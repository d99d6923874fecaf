"""Seeded inputs and their oracles.

Everything here is load-generator work: it runs before and after the timed
regions, never inside them. Generated inputs are cached under the work
directory by (kind, size, seed) and a sha1 of the engine sources that
produce and read them, so a repeated run does not pay for them and a
change to the generator or the log format never reuses a stale input.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

#: the sf0.1 `documents.parquet` test table, committed byte for byte
DOCUMENTS = os.path.join(HERE, "data", "sf0.1_documents.parquet")


def _cached(work: str, key: str, build) -> str:
    """Directory `work/cache/key`, built once by `build(tmp_dir)`."""
    d = os.path.join(work, "cache", key)
    if not os.path.exists(os.path.join(d, "_done")):
        tmp = d + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        with open(os.path.join(tmp, "_done"), "w") as f:
            f.write("ok")
        os.rename(tmp, d)
    return d


def _src_sha(*modules) -> str:
    """sha1 over the source files of `modules`."""
    h = hashlib.sha1()
    for m in modules:
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


# ---------------------------------------------------------------- CDC stream


def cdc_stream(work: str, n_events: int, n_segments: int, seed: int) -> tuple[str, pd.DataFrame]:
    """Generate (or reuse) an event log with the engine's own generator:
    50% hot-repo skew, ~2% late arrivals, ghost deletes and v1->v3 schema
    evolution. Returns the log directory and the events in arrival order,
    with `sha` = sha256(content) for the oracle."""
    from bbc_news_etl_pipeline_spark.fixtures import generator as G
    from bbc_news_etl_pipeline_spark.sources import event_log

    spec = G.StreamSpec(n_events=n_events, n_epochs=n_segments, seed=seed)

    def build(tmp: str) -> None:
        df = G.generate_events(spec)
        G.write_event_log(df, os.path.join(tmp, "log"))
        df[["arrival_seq", "lsn", "op", "repo", "path", "content"]].to_parquet(
            os.path.join(tmp, "events.parquet"), index=False
        )

    d = _cached(work, f"cdc_{n_events}x{n_segments}_s{seed}_g{_src_sha(G, event_log)}", build)
    ev = pd.read_parquet(os.path.join(d, "events.parquet"))
    ev["sha"] = [
        hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None
        for c in ev["content"]
    ]
    return os.path.join(d, "log"), ev.drop(columns=["content"])


def lww_state(events: pd.DataFrame, seq_hi: int) -> pd.DataFrame:
    """Last-writer-wins state of the events with arrival_seq <= seq_hi: one
    row per key holding the highest-lsn event, `live` false for deletes."""
    ev = events[events["arrival_seq"] <= seq_hi]
    last = ev.sort_values("lsn").drop_duplicates(["repo", "path"], keep="last")
    return last.assign(live=last["op"] != "delete").set_index(["repo", "path"])


def state_digest(rows) -> tuple[int, str]:
    """(count, order-insensitive digest) over (repo, path, lsn, sha) tuples."""
    lines = sorted(f"{r}|{p}|{int(l)}|{s or ''}" for r, p, l, s in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_digest(state: pd.DataFrame) -> tuple[int, str]:
    live = state[state["live"]].reset_index()
    return state_digest(zip(live["repo"], live["path"], live["lsn"], live["sha"]))


def lookup_keys(events: pd.DataFrame, seq_hi: int, n: int, rng) -> list[tuple[str, str]]:
    """`n` keys touched at or before seq_hi, cycling hot-repo, cold and
    deleted keys so every lookup class is exercised."""
    state = lww_state(events, seq_hi).reset_index()
    hot = state[state["live"] & (state["repo"] == "org0/repo0")]
    cold = state[state["live"] & (state["repo"] != "org0/repo0")]
    dead = state[~state["live"]]
    pools = [p for p in (hot, cold, dead) if len(p)]
    out = []
    for i in range(n):
        pool = pools[i % len(pools)]
        r = pool.iloc[int(rng.integers(0, len(pool)))]
        out.append((r["repo"], r["path"]))
    return out
