"""Correctness gate: the engine's store against `CrawlSimulator` run on the
same generated rows for the same epochs.

Checked after timing, so it adds nothing to `epoch_s`. A mismatch is
charged to the epoch it shows in:

- `schedule_log` rows (epoch, pop_index, type, url, queue, scope, outcome,
  attempt), compared per epoch;
- `seen` entries, charged to their `first_seen_epoch`;
- the latest `documents` row per doc_id (spans and metadata stamps),
  charged to the last epoch run, since the simulator keeps only the
  latest state.
"""

from __future__ import annotations

from crawler_spark.simulator import CrawlSimulator

LOG_COLS = ["epoch", "pop_index", "type", "url", "queue", "scope", "outcome", "attempt"]


def simulate(wl, rows: dict, epochs: list[int]) -> CrawlSimulator:
    sim = CrawlSimulator(
        rows["registry"], rows["robots"],
        host_budget=wl.host_budget, batch_budget=wl.batch_budget,
    )
    sim.seed(rows["seeds"])
    for e in epochs:
        sim.run_epoch(e)
    return sim


def _sortable(t: tuple) -> tuple:
    return tuple((x is None, x if x is not None else 0) for x in t)


def engine_state(store, exclude_seen_prefix: str | None = None) -> dict:
    """Collect what the gate compares from the engine's latest snapshot."""
    from pyspark.sql import functions as F

    log = [tuple(r) for r in store.read("schedule_log").select(*LOG_COLS).collect()]
    seen_df = store.read("seen")
    if exclude_seen_prefix:
        seen_df = seen_df.filter(~F.col("seen_key").startswith(exclude_seen_prefix))
    seen = {r["seen_key"]: r["first_seen_epoch"] for r in seen_df.collect()}
    latest: dict = {}
    docs = store.read("documents")
    for r in docs.collect() if docs is not None else []:
        if r["doc_id"] not in latest or r["epoch"] > latest[r["doc_id"]]["epoch"]:
            latest[r["doc_id"]] = r
    documents = {
        k: {
            "spans": [s.asDict() for s in r["spans"]],
            "etag": r["etag"],
            "fetched_at": r["fetched_at_epoch"],
            "processed_at": r["processed_at_epoch"],
            "version": r["version"],
            "release_date": r["release_date"],
        }
        for k, r in latest.items()
    }
    return {"log": log, "seen": seen, "documents": documents}


def failed_epochs(state: dict, sim: CrawlSimulator, epochs: list[int]) -> set[int]:
    """Epochs whose output differs from the simulator's."""
    res = sim.res
    failed: set[int] = set()
    sim_log = [tuple(r[c] for c in LOG_COLS) for r in res.schedule_log]
    for e in epochs:
        ours = sorted((t for t in state["log"] if t[0] == e), key=_sortable)
        theirs = sorted((t for t in sim_log if t[0] == e), key=_sortable)
        if ours != theirs:
            failed.add(e)
    if len(state["log"]) != len(sim_log):
        failed.add(epochs[-1])
    for key in set(state["seen"]) | set(res.seen):
        a, b = state["seen"].get(key), res.seen.get(key)
        if a != b:
            failed.add(a if a in epochs else b if b in epochs else epochs[-1])
    if state["documents"] != res.documents:
        failed.add(epochs[-1])
    return failed
