"""The two workloads. Each is a closed loop: the log (or corpus) is
persisted, and each operation starts when the previous one returns, so the
rate a workload reaches is the highest input rate the engine sustains.

Every workload calls only the engine's public entry points, through module
attributes (`R.replay`, `CI.incremental_corpus_update`, `LakeTable`
methods), so the traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import numpy as np

from . import inputs

#: builds of the starting state per run; setup_s takes their median
SETUP_REPS = 3


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    size: str
    work: str  # cache root, kept across runs
    scratch: str  # this run's lakes and stores, removed at exit
    perturb: str | None = None
    _n: int = 0

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.scratch, f"{name}-{self._n}")


@dataclass
class Run:
    """What one workload run measured and checked."""

    principal: tuple  # op kinds behind op_p50_s
    samples: dict = field(default_factory=lambda: defaultdict(list))
    attempted: Counter = field(default_factory=Counter)
    failed: Counter = field(default_factory=Counter)
    checks: dict = field(default_factory=dict)
    setup_reps: list = field(default_factory=list)
    warmup_s: float = 0.0
    work: Counter = field(default_factory=Counter)
    lakes: list = field(default_factory=list)

    def op(self, ctx: Ctx, kind: str, fn):
        """Run and time one operation of the mix."""
        self.attempted[kind] += 1
        with ctx.tracer.span(f"op.{kind}"):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                self.failed[kind] += 1
                raise
            self.samples[kind].append(time.perf_counter() - t0)
        return out

    def check(self, ctx: Ctx, name: str, kind: str, got, want) -> None:
        """Record one correctness check; a mismatch fails an op of `kind`.
        Under `--perturb name|all` the oracle side gets a bogus element, so
        the check must fail."""
        if ctx.perturb in (name, "all"):
            want = _perturbed(want)
        ok = got == want
        self.checks[name] = self.checks.get(name, True) and ok
        if not ok:
            self.failed[kind] += 1

    def setup(self, fn):
        """Build the starting state SETUP_REPS times; returns the last one."""
        out = None
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            out = fn()
            self.setup_reps.append(time.perf_counter() - t0)
        return out

    def warmup(self, ctx: Ctx, fn) -> None:
        """One small run of the workload's real path on throwaway output,
        once, so the timed operations do not pay first-use costs."""
        with ctx.tracer.span("session.warmup"):
            t0 = time.perf_counter()
            fn()
            self.warmup_s = time.perf_counter() - t0


def _perturbed(want):
    bogus = ("perturbed", "perturbed", -1, "perturbed")
    if isinstance(want, (set, frozenset)):
        return set(want) | {bogus}
    if isinstance(want, tuple) and len(want) == 2 and isinstance(want[0], int):
        return want[0] + 1, want[1]  # (count, digest)
    if isinstance(want, list):
        return want + [bogus]
    return bogus


# ----------------------------------------------------------- lake checks


def _lake_rows(spark, root: str) -> list[tuple]:
    from bbc_news_etl_pipeline_spark.sources.lake import LakeTable

    return [
        tuple(r)
        for r in LakeTable(root)
        .read_state(spark)
        .select("repo", "path", "lsn", "content_sha256")
        .collect()
    ]


def _head_seq(root: str) -> int:
    from bbc_news_etl_pipeline_spark.sources.lake import LakeTable

    return LakeTable(root).resume_point()[1]


def _check_lake(ctx: Ctx, run: Run, root: str, log_dir: str, events, n_buckets: int) -> None:
    """The MOR lake's live state equals the LWW oracle, and a COW lake built
    from the same applied events holds the same state."""
    from bbc_news_etl_pipeline_spark.streaming import replay as R

    seq_hi = _head_seq(root)
    got = inputs.state_digest(_lake_rows(ctx.spark, root))
    run.check(ctx, "lake_state", "epoch", got,
              inputs.oracle_digest(inputs.lww_state(events, seq_hi)))
    other = ctx.fresh("other_mode")
    R.replay(ctx.spark, log_dir, other, n_buckets=n_buckets,
             events_per_epoch=seq_hi + 1, max_epochs=1, mode="cow")
    run.check(ctx, "cross_mode", "epoch", got,
              inputs.state_digest(_lake_rows(ctx.spark, other)))


# ---------------------------------------------------------- mor_ingest_read

MOR = {
    "full": dict(epoch_events=8000, epochs_per_cycle=4, cycles=2, lookups=5, buckets=8),
    "tiny": dict(epoch_events=500, epochs_per_cycle=2, cycles=1, lookups=3, buckets=4),
}


def mor_ingest_read(ctx: Ctx) -> Run:
    """Large MOR epochs, each followed by a consumer reading its change
    window; then point lookups, a full scan of the layered snapshot, and a
    compaction. A pass is `cycles` such cycles over one fresh lake, and
    the deadline is checked between passes."""
    from pyspark.sql import functions as F

    from bbc_news_etl_pipeline_spark.sources.event_log import EventLog
    from bbc_news_etl_pipeline_spark.sources.lake import LakeTable
    from bbc_news_etl_pipeline_spark.streaming import replay as R

    p = MOR[ctx.size]
    n_epochs = p["epochs_per_cycle"] * p["cycles"]
    log_dir, events = inputs.cdc_stream(
        ctx.work, p["epoch_events"] * n_epochs, n_epochs, ctx.seed
    )
    log = EventLog(log_dir)
    rng = np.random.default_rng(ctx.seed)
    run = Run(principal=("epoch",))
    spark = ctx.spark

    def materialize_changes(root: str, lo: int, hi: int) -> list:
        return LakeTable(root).read_changes(spark, log, lo, hi).select(
            "change", "repo", "path", "lsn", F.sha2("content", 256)
        ).collect()

    def warmup() -> None:
        """One short cycle of quarter-size epochs on a throwaway lake: the
        first epoch, change read, lookup, layered scan and compaction each
        pay a one-time cost."""
        root = ctx.fresh("warmup")
        for _ in range(2):
            R.replay(spark, log_dir, root, n_buckets=p["buckets"],
                     events_per_epoch=p["epoch_events"] // 4, max_epochs=1, mode="mor")
        materialize_changes(root, 0, 1)
        repo, path = events.iloc[0][["repo", "path"]]
        LakeTable(root).read_key(spark, repo, path).collect()
        LakeTable(root).read_state(spark).write.format("noop").mode("overwrite").save()
        LakeTable(root).compact(spark)

    def setup() -> str:
        root = ctx.fresh("lake")
        LakeTable(root, n_buckets=p["buckets"])
        return root

    run.warmup(ctx, warmup)
    root = run.setup(setup)
    deadline = time.perf_counter() + ctx.seconds
    while True:
        run.lakes.append(root)
        for _ in range(p["cycles"]):
            for _ in range(p["epochs_per_cycle"]):
                prev = LakeTable(root).resume_point()
                res = run.op(ctx, "epoch", lambda: R.replay(
                    spark, log_dir, root, n_buckets=p["buckets"],
                    events_per_epoch=p["epoch_events"], max_epochs=1, mode="mor",
                ))
                run.work["events"] += res.events_applied
                if prev[0] == 0:
                    continue  # the first epoch has no committed snapshot before it
                new = res.epochs[-1].epoch
                rows = run.op(ctx, "changes", lambda: materialize_changes(root, prev[0] - 1, new))
                run.work["change_rows"] += len(rows)
                want_state = inputs.lww_state(events, res.epochs[-1].seq_hi)
                window = events[(events["arrival_seq"] > prev[1])
                                & (events["arrival_seq"] <= res.epochs[-1].seq_hi)]
                keys = set(zip(window["repo"], window["path"]))
                want = set()
                for k in keys:
                    s = want_state.loc[k]
                    want.add((k[0], k[1], "upsert" if s["live"] else "delete",
                              int(s["lsn"]) if s["live"] else None))
                got = {(r[1], r[2], r[0], int(r[3]) if r[0] == "upsert" else None)
                       for r in rows}
                run.check(ctx, "read_changes", "changes", got, want)
            seq_hi = _head_seq(root)
            state = inputs.lww_state(events, seq_hi)
            for repo, path in inputs.lookup_keys(events, seq_hi, p["lookups"], rng):
                rows = run.op(ctx, "lookup", lambda: LakeTable(root).read_key(
                    spark, repo, path
                ).select("lsn", "content_sha256").collect())
                s = state.loc[(repo, path)]
                want = [(int(s["lsn"]), s["sha"])] if s["live"] else []
                run.check(ctx, "read_key", "lookup", [tuple(r) for r in rows], want)
            run.op(ctx, "scan", lambda: LakeTable(root).read_state(spark)
                   .write.format("noop").mode("overwrite").save())
            run.op(ctx, "compact", lambda: LakeTable(root).compact(spark))
        if time.perf_counter() >= deadline:
            break
        root = ctx.fresh("lake")
    _check_lake(ctx, run, root, log_dir, events, p["buckets"])
    return run


# ----------------------------------------------------------- corpus_refresh

#: documents of the sf0.1 table used: all 5,000, or the first 400
CORPUS = {"full": dict(docs=5000), "tiny": dict(docs=400)}

#: op kind -> (percent deleted, percent deleted + updated), by seeded hash
DELTAS = {"refresh": (3, 9), "refresh_small": (1, 3)}


def corpus_refresh(ctx: Ctx) -> Run:
    """Incremental corpus refresh of the sf0.1 documents at a ~9% and a
    ~3% delta against one previous cut, and a full re-cut of the ~9% head.
    A pass runs each of the three once, and the deadline is checked
    between passes. The seed picks the deltas."""
    from pyspark.sql import functions as F

    from bbc_news_etl_pipeline_spark.operators import corpus_incremental as CI
    from bbc_news_etl_pipeline_spark.operators import dedup as D
    from bbc_news_etl_pipeline_spark.util import BROADCAST_KEYS_MAX

    spark = ctx.spark
    cur = spark.read.parquet(inputs.DOCUMENTS).where(F.col("doc_id") < CORPUS[ctx.size]["docs"])
    bucket = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(ctx.seed)), F.lit(100))
    dummy = [F.lit("r").alias("repo"), F.lit("p").alias("path")]
    # every kind is a principal op: each pass holds them 1:1:1
    run = Run(principal=(*DELTAS, "recut"))

    def mat(df, d: str):
        df.write.mode("overwrite").parquet(d)
        return spark.read.parquet(d)

    def cut(docs, span: str, retained: bool = True) -> dict:
        """A from-scratch cut, each store materialized in its own span; the
        previous cut a refresh reads has no retained store."""
        base = ctx.fresh(span)
        with ctx.tracer.span(f"dedup.{span}_sketches"):
            sk = mat(D.corpus_sketches(docs), f"{base}/sketches")
        with ctx.tracer.span(f"dedup.{span}_pairs"):
            pairs = mat(D.near_dup_pairs_lsh(docs), f"{base}/pairs")
        with ctx.tracer.span(f"dedup.{span}_clusters"):
            clusters = mat(D.duplicate_clusters(None, pairs=pairs), f"{base}/clusters")
        out = {"sketches": sk, "pairs": pairs, "clusters": clusters}
        if retained:
            losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
            out["retained"] = mat(docs.join(losers, "doc_id", "left_anti"), f"{base}/retained")
        return out

    # As bench.py does, the previous cut holds every doc either delta
    # updates with its words reversed, and the update restores the sf0.1
    # text, so a refresh re-finds the near-duplicate pairs the reversal hid.
    # One previous cut serves both deltas.
    updated = {kind: (bucket >= p_del) & (bucket < p_chg)
               for kind, (p_del, p_chg) in DELTAS.items()}
    was_reversed = F.lit(False)
    for u in updated.values():
        was_reversed = was_reversed | u
    prev_text = F.when(was_reversed, F.concat_ws(" ", F.reverse(F.split("text", " ")))) \
        .otherwise(F.col("text"))

    def setup() -> dict:
        prev = cut(cur.select("doc_id", prev_text.alias("text"), *dummy, "lang"), "prevcut",
                   retained=False)
        prev["doc_ids"] = mat(cur.select("doc_id"), ctx.fresh("prevcut_doc_ids"))
        out = {}
        for kind, (p_del, _) in DELTAS.items():
            deleted = bucket < p_del
            head = cur.where(~deleted).select(
                "doc_id",
                F.when(updated[kind], F.col("text")).otherwise(prev_text).alias("text"),
                *dummy, "lang",
            )
            delta = head.where(updated[kind]).select(
                "doc_id", F.lit(True).alias("alive"), "text", "repo", "path", "lang"
            ).unionByName(
                cur.where(deleted).select(
                    "doc_id", F.lit(False).alias("alive"), prev_text.alias("text"), *dummy, "lang"
                )
            )
            out[kind] = {"head": head, "delta": delta, "n_changed": delta.count(),
                         "prev": prev}
        return out

    def refresh(kind: str) -> dict:
        c = cases[kind]
        prev = c["prev"]
        upd = CI.incremental_corpus_update(
            c["head"], c["delta"], prev["sketches"], prev["pairs"], prev["doc_ids"],
            hint_broadcast=c["n_changed"] <= BROADCAST_KEYS_MAX,
            old_clusters=prev["clusters"],
        )
        base = ctx.fresh(kind)
        with ctx.tracer.span("corpus_incremental.store_write"):
            return {
                name: mat(upd[name], f"{base}/{name}")
                for name in ("sketches", "pairs", "clusters", "retained")
            }

    def warmup() -> None:
        """A refresh and a re-cut on throwaway stores, since a first timed
        pass would still pay first-use costs. The re-cut, of the ~3% head,
        is the oracle of the ~3% refresh."""
        refresh("refresh")
        full["refresh_small"] = cut(cases["refresh_small"]["head"], "checkcut")

    full: dict = {}
    cases = run.setup(setup)
    run.warmup(ctx, warmup)

    out: dict = {}
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        for kind in DELTAS:
            out[kind] = run.op(ctx, kind, lambda: refresh(kind))
        out["recut"] = run.op(ctx, "recut", lambda: cut(cases["refresh"]["head"], "recut"))
    full["refresh"] = out["recut"]

    def rows(df, cols) -> set:
        return {tuple(r) for r in df.select(*cols).collect()}

    for kind in DELTAS:
        clusters = rows(out[kind]["clusters"], ("doc_id", "cluster_id"))
        run.check(ctx, "corpus_clusters", kind, clusters,
                  rows(full[kind]["clusters"], ("doc_id", "cluster_id")))
        run.check(ctx, "corpus_retained", kind, rows(out[kind]["retained"], ("doc_id",)),
                  rows(full[kind]["retained"], ("doc_id",)))
        run.work[f"{kind}_pairs_new"] = out[kind]["pairs"].join(
            cases[kind]["prev"]["pairs"], ["doc_a", "doc_b"], "left_anti"
        ).count()
        run.work[f"{kind}_clusters"] = len({c for _, c in clusters})
    return run


WORKLOADS = {
    "mor_ingest_read": mor_ingest_read,
    "corpus_refresh": corpus_refresh,
}
