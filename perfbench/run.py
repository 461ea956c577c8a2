"""Benchmark of the crawl engine's epoch: `CrawlEngine.run_epoch` over a
`SnapshotStore`, driven only through the public API.

    python3 perfbench/run.py --workload deep_backlog --seed 1 --seconds 10 --trace 0

Flow: `get_spark` → the seeded fixture generators → `SnapshotStore` →
`CrawlEngine.bootstrap` (plus, on `deep_backlog`, one commit of a standing
backlog), repeated SETUP_REPS times on fresh stores; then timed
`run_epoch` calls on the last store until `--seconds` have been measured;
then the correctness gate against `CrawlSimulator` (perfbench/gate.py).

The last line of stdout is one JSON object: `correct`, `attempted`
(epochs run), `failed` (epochs that raised or failed the gate) and
`metrics`. `--trace 0` reports the end-to-end metrics; `--trace 1`
installs the span wrappers of perfbench/tracing.py, turns on the Spark
event log, and reports the per-layer metrics instead, after printing the
per-layer table. The command exits non-zero when any epoch fails.

Everything the run writes (store, Spark local dirs, JVM temp files, event
log) lives under `.bench_work/` in the working directory and is removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.time()
ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataclasses import dataclass  # noqa: E402

SETUP_REPS = 3
MAX_TIMED_EPOCHS = 6
BACKLOG_SEQ_BASE = 1 << 40  # above any enqueued_seq the crawl assigns
BACKLOG_NOT_BEFORE = 1 << 30  # far beyond any epoch the run reaches
DRIVER_MEM = "1g"  # get_spark defaults to 16g, more than the 15 GB box


@dataclass(frozen=True)
class Workload:
    n_names: int
    n_seeds: int
    host_budget: int
    batch_budget: int
    backlog_rows: int = 0


WORKLOADS = {
    # the scripts/parity_check.py fixture: only the fixed per-epoch cost
    "parity_crawl": Workload(20, 12, 4, 10),
    # same generators scaled up: per-row work over an offered set larger
    # than the batch
    "wide_batch": Workload(800, 8000, 400, 2000),
    # a parity-sized crawl (enough seeds to fill the batch on every seed)
    # on top of a standing backlog that every commit carries forward
    "deep_backlog": Workload(20, 30, 4, 10, backlog_rows=250_000),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "epoch_s": "s",
    "urls_per_s": "urls/s",
    "spark_jobs_per_epoch": "jobs",
    "bytes_written_per_epoch": "MB",
    "peak_rss_mb": "MB",
}


def pin_environment(work: str, cores: int, trace: bool) -> dict[str, str]:
    """Spark settings the benchmark pins, from its own side only."""
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:ActiveProcessorCount={cores} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def gen_rows(wl: Workload, seed: int) -> dict:
    from crawler_spark.data.generators import gen_registry_py, gen_robots_py, gen_seeds_py

    return {
        "registry": gen_registry_py(wl.n_names, seed=seed),
        "seeds": gen_seeds_py(wl.n_seeds, seed=seed, n_names=wl.n_names),
        "robots": gen_robots_py(seed=seed),
    }


def backlog_prefixes(seed: int) -> tuple[str, str]:
    """(frontier url prefix, seen key prefix); no crawl URL starts with either."""
    return f"cd:/npm/npmjs/-/backlog{seed}-", f"component@cd:/npm/npmjs/-/history{seed}-"


def backlog_frames(spark, n: int, seed: int, frontier_schema, seen_schema):
    """Deferred frontier rows and seen-history rows, generated lazily from
    the seed: ineligible for the whole run, keys disjoint from the crawl."""
    from pyspark.sql import functions as F

    from crawler_spark.config import PROVIDER_HOSTS, QUEUE_NAMES

    url_prefix, seen_prefix = backlog_prefixes(seed)
    ids = spark.range(n)
    name = F.concat(F.lit(f"backlog{seed}-"), F.col("id").cast("string"))
    url = F.concat(F.lit(url_prefix), F.col("id").cast("string"), F.lit("/1.0.0"))
    queues = F.array(*[F.lit(q) for q in QUEUE_NAMES])
    cols = {
        "url": url,
        "type": F.lit("component"),
        "spec_type": F.lit("npm"),
        "provider": F.lit("npmjs"),
        "namespace": F.lit("-"),
        "name": name,
        "revision": F.lit("1.0.0"),
        "host": F.lit(PROVIDER_HOSTS["npmjs"]),
        "queue": F.element_at(queues, (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(len(QUEUE_NAMES))) + 1).cast("int")),
        "scope": F.lit("global"),
        "policy": F.lit("default"),
        "attempt_count": F.lit(0),
        "not_before_epoch": F.lit(BACKLOG_NOT_BEFORE),
        "parent_epoch": F.lit(-1),
        "enqueued_seq": F.lit(BACKLOG_SEQ_BASE) + F.col("id"),
        "url_hash": F.xxhash64(F.concat(F.lit("component@"), url)),
    }
    frontier = ids.select(*[cols[f.name].cast(f.dataType).alias(f.name) for f in frontier_schema])
    key = F.concat(F.lit(seen_prefix), F.col("id").cast("string"), F.lit("/1.0.0"))
    seen_cols = {"seen_key": key, "seen_hash": F.xxhash64(key), "first_seen_epoch": F.lit(-1)}
    seen = ids.select(*[seen_cols[f.name].cast(f.dataType).alias(f.name) for f in seen_schema])
    return frontier, seen


def set_up(spark, wl: Workload, seed: int, path: str):
    """One set-up: fixture rows, store, engine, bootstrap."""
    from crawler_spark.data.generators import registry_df, robots_df, seeds_df
    from crawler_spark.operators.epoch import CrawlEngine
    from crawler_spark.storage.snapshots import SnapshotStore

    rows = gen_rows(wl, seed)
    store = SnapshotStore(spark, path)
    engine = CrawlEngine(
        spark, store, registry_df(spark, rows["registry"]), robots_df(spark, rows["robots"]),
        host_budget=wl.host_budget, batch_budget=wl.batch_budget,
    )
    engine.bootstrap(seeds_df(spark, rows["seeds"]))
    return rows, store, engine


def commit_backlog(spark, store, wl: Workload, seed: int) -> None:
    """Add the standing backlog to the bootstrapped snapshot in one commit."""
    snap = store.snapshot()
    frontier, seen = store.read("frontier"), store.read("seen")
    bf, bs = backlog_frames(spark, wl.backlog_rows, seed, frontier.schema, seen.schema)
    store.commit(
        epoch=snap.epoch,
        replace={"frontier": frontier.unionByName(bf), "seen": seen.unionByName(bs)},
        meta=snap.meta,
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def footer_rows(dirs) -> int:
    """Rows in the parquet files of `dirs`, read from the parquet footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d in dirs for f in os.listdir(d) if f.endswith(".parquet")
    )


def commit_rows(prev_tables: dict, tables: dict, enqueued: int) -> tuple[int, int]:
    """(rows written, rows new this epoch) for the directories one commit
    adds. Appended logs are all new; of the replaced tables, `frontier`
    gains the `enqueued` rows and `seen` grows by its row-count delta."""
    written = new = 0
    for table, dirs in tables.items():
        added = footer_rows(set(dirs) - set(prev_tables.get(table, [])))
        written += added
        if table == "frontier":
            new += enqueued
        elif table == "seen":
            new += added - footer_rows(prev_tables.get("seen", []))
        else:
            new += added
    return written, new


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _same_rows(kept, expected, n: int) -> bool:
    """One aggregation: `kept` has `n` rows, as many as `expected`, with the
    same sum of row hashes — the same multiset of rows up to a hash
    collision."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*expected.columns).cast("decimal(38,0)")
    row = (
        kept.select(F.lit(1).alias("s"), h.alias("h"))
        .unionAll(expected.select(F.lit(-1).alias("s"), (-h).alias("h")))
        .agg(F.count(F.when(F.col("s") == 1, 1)).alias("kept"),
             F.sum("s").alias("diff"), F.sum("h").alias("h"))
        .first()
    )
    return row["kept"] == n and row["diff"] == 0 and row["h"] == 0


def check_backlog(store, spark, wl: Workload, seed: int, log: list[tuple]) -> bool:
    """Every backlog row is still in the store unchanged, and none was logged."""
    from pyspark.sql import functions as F

    frontier, seen = store.read("frontier"), store.read("seen")
    bf, bs = backlog_frames(spark, wl.backlog_rows, seed, frontier.schema, seen.schema)
    url_prefix, seen_prefix = backlog_prefixes(seed)
    n = wl.backlog_rows
    return (
        _same_rows(frontier.filter(F.col("enqueued_seq") >= BACKLOG_SEQ_BASE), bf, n)
        and _same_rows(seen.filter(F.col("seen_key").startswith(seen_prefix)), bs, n)
        and not any(t[3].startswith(url_prefix) for t in log)
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited; it exits once
    its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, bool]:
    import gate

    wl = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    conf = pin_environment(work, cores, trace)

    from crawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", parallelism=cores, shuffle_partitions=cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    session_ready = time.time()
    sc = spark.sparkContext
    try:
        tracer = None
        if trace:
            import tracing

            tracer = tracing.Tracer(sc)
            tracing.install(tracer)

        rep_s = []
        for rep in range(SETUP_REPS):
            path = os.path.join(work, f"store{rep}")
            t0 = time.perf_counter()
            rows, store, engine = set_up(spark, wl, seed, path)
            rep_s.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(path)
        backlog_s = 0.0
        if wl.backlog_rows:  # once: it is the costly part of a repetition
            t0 = time.perf_counter()
            commit_backlog(spark, store, wl, seed)
            backlog_s = time.perf_counter() - t0
        # process start → session ready, plus the median set-up repetition
        # (timing up to the first epoch would count every repetition)
        setup_s = session_ready - T_PROCESS + statistics.median(rep_s) + backlog_s

        epochs, walls, jobs, written, epoch_rows = [], [], [], [], []
        failed: set[int] = set()
        measured = 0.0
        while measured < seconds and len(epochs) < MAX_TIMED_EPOCHS:
            e = len(epochs)
            group = f"epoch-{e}"
            before = dir_bytes(path)
            prev_tables = store.snapshot().tables
            if tracer is not None:
                tracer.epoch = str(e)
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                m = engine.run_epoch(e)
            except Exception as exc:  # an epoch that raises counts as failed
                print(f"epoch {e} raised: {exc!r}", file=sys.stderr)
                epochs.append(e)
                failed.add(e)
                break
            finally:
                if tracer is not None:
                    tracer.epoch = "bench"
            wall = time.perf_counter() - t0
            measured += wall
            epochs.append(e)
            walls.append(wall)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            written.append(dir_bytes(path) - before)
            if trace:
                rows_written, new_rows = commit_rows(prev_tables, store.snapshot().tables, m["enqueued"])
                epoch_rows.append({**m, "wall_s": wall, "rows_written": rows_written, "new_rows": new_rows})
            else:
                epoch_rows.append({**m, "wall_s": wall})
        if not walls:
            raise RuntimeError(f"epoch {epochs[-1]} raised before any epoch was timed")
        rss = peak_rss_mb(spark)
        sc.setJobGroup("gate", "gate")

        ok_epochs = [e for e in epochs if e not in failed]
        if ok_epochs:
            sim = gate.simulate(wl, rows, ok_epochs)
            prefix = backlog_prefixes(seed)[1] if wl.backlog_rows else None
            state = gate.engine_state(store, exclude_seen_prefix=prefix)
            failed |= gate.failed_epochs(state, sim, ok_epochs)
            if wl.backlog_rows and not check_backlog(store, spark, wl, seed, state["log"]):
                print("backlog rows changed or were scheduled", file=sys.stderr)
                failed.add(ok_epochs[-1])

        if trace:
            spark.stop()  # flushes the event log
            setup = {"session.start_s": session_s,
                     "epoch.bootstrap_s": statistics.median(
                         s.end - s.start for s in tracer.spans if s.label == "epoch.bootstrap")}
            metrics = tracing.layer_metrics(tracer, os.path.join(work, "events"), epoch_rows, setup, cores)
            tracing.print_table(metrics, workload)
            units = {k: v[0] for k, v in tracing.LAYER_METRICS.items()}
        else:
            metrics = {
                "setup_s": setup_s,
                "epoch_s": statistics.median(walls),
                "urls_per_s": sum(r["scheduled"] for r in epoch_rows) / sum(walls),
                "spark_jobs_per_epoch": statistics.median(jobs),
                "bytes_written_per_epoch": statistics.median(written) / 1e6,
                "peak_rss_mb": rss,
            }
            units = END_TO_END_UNITS
            print(f"workload {workload} seed {seed}: {len(walls)} timed epochs, "
                  f"setup reps {[round(s, 3) for s in rep_s]}, backlog {backlog_s:.3f} s, "
                  f"session {session_s:.3f} s")
            for k, v in metrics.items():
                print(f"  {k:26s} {v:14.4f} {units[k]}")
        print(f"  failed_epoch_frac {len(failed)}/{len(epochs)}; pinned: local[{cores}], "
              f"driver memory {DRIVER_MEM}, work dir {os.path.relpath(work, ROOT)}")
        result = {
            "correct": not failed,
            "attempted": len(epochs),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return result, not failed
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print("crawler_spark package not found in the working directory", file=sys.stderr)
        return 2
    result, ok = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
