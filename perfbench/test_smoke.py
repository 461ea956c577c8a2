"""Smoke test of the benchmark itself, at the parity fixture's size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that one run prints every metric BENCHMARK.json names, with its
unit, in both modes, and that the correctness gate catches a schedule-log
row altered on purpose.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def _bench(trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "parity_crawl",
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_metric_printed_with_its_unit():
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result = _bench(trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_gate_catches_an_altered_schedule_log_row(tmp_path):
    from pyspark.sql import functions as F

    import gate
    import run
    from crawler_spark.session import get_spark

    conf = run.pin_environment(str(tmp_path), 2, trace=False)
    spark = get_spark("perfbench-smoke", parallelism=2, shuffle_partitions=2, extra_conf=conf)
    try:
        wl = run.WORKLOADS["parity_crawl"]
        rows, store, engine = run.set_up(spark, wl, 7, str(tmp_path / "store"))
        engine.run_epoch(0)
        sim = gate.simulate(wl, rows, [0])
        assert gate.failed_epochs(gate.engine_state(store), sim, [0]) == set()

        log = store.read("schedule_log")
        victim = log.filter(F.col("pop_index") == 0)
        altered = log.filter(F.col("pop_index") != 0).unionByName(
            victim.withColumn("outcome", F.lit("Tampered"))
        )
        store.commit(epoch=0, replace={"schedule_log": altered.localCheckpoint()})
        assert gate.failed_epochs(gate.engine_state(store), sim, [0]) == {0}
    finally:
        run.stop_spark(spark)
