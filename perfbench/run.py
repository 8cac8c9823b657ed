"""ProteoFAV-on-Spark benchmark.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload structure_merge --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, Spark at ``local[2]``):

- ``structure_merge``    one op = one entry's mmCIF, DSSP, SIFTS and
  validation files through the four ``select_*`` readers, ``table_merger``
  and a ``noop``-sink write; a round is a fresh entry, then an entry
  reopened from earlier in the run.
- ``lake_ingest_merge``  one op = a batch of 48 distinct entries through
  ``parse_mmcif_atoms_many``, the glob DSSP/SIFTS readers,
  ``lake_table_merger``, ``residues_aggregation`` and
  ``write_partitioned`` to Parquet.
- ``catalog_mix``        one op = one catalog query over a seeded corpus,
  materialized to a ``noop`` sink; a round is one pass over six headline
  queries.

Inputs are generated from ``--seed`` under ``.perfbench_work/`` before
anything is timed. Outputs are checked untimed: each ProteoFAV op against
the generator's truth, the catalog queries once per run against their
DuckDB oracles. ``--trace 0`` measures whole rounds until the summed op
latency reaches ``--seconds`` and prints the end-to-end metrics.
``--trace 1`` runs one traced round of every pipeline, whichever workload
is named, and prints the per-layer metrics. STEADINESS.md defines every
metric. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": ..., "unit": ...}}}

Details (the tail percentile and its sample count, the per-process memory
split, every span of a traced run) go to standard error and to
``.perfbench_work/<workload>/result.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from harness import PssSampler, Tracer, median, start_spark, stop_spark, tail
from workloads import WORKLOADS, CatalogMix, LakeIngest, StructureMerge

# entries in the traced lake batch: the traced run materializes every
# prefix of the lake pipeline, about twice an op's work, so it traces a
# smaller batch than the timed one to stay within a run's time budget
TRACED_BATCH = 8


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """Counts attempted and failed ops of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def op(self, wl, spark, op, tracer=None) -> tuple[float, bool]:
        """Execute one op and check its output: the op's latency in
        seconds (until it raised, if it did) and whether it succeeded."""
        self.attempted += 1
        handle = None
        ok = False
        t = time.perf_counter()
        try:
            handle = wl.execute(spark, op, tracer)
            latency = time.perf_counter() - t
            ok = wl.verify(spark, op, handle)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            latency = time.perf_counter() - t
            _log(traceback.format_exc())
        finally:
            if handle is not None:
                wl.cleanup(handle)
        if not ok:
            self.failed += 1
            _log(f"{type(wl).__name__}: op {self.attempted} failed")
        return latency, ok


def measure(name: str, spark_setup, work: str, seed: int, seconds: float) -> dict:
    wl = WORKLOADS[name](os.path.join(work, "inputs"), seed)
    run = Run()
    lat: list[float] = []
    records = 0
    busy = 0.0
    with PssSampler() as pss:
        t0 = time.perf_counter()
        spark = spark_setup()
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        rounds = 0
        # whole rounds until the summed op time reaches `seconds`; failed
        # ops spend measured time too, so a run always ends
        while busy < seconds:
            for op in wl.rounds[rounds % len(wl.rounds)]:
                latency, ok = run.op(wl, spark, op)
                busy += latency
                if ok:
                    lat.append(latency * 1000)
                    records += getattr(wl, "size", lambda _: 0)(op)
            rounds += 1
    if not lat:
        raise RuntimeError(f"{name}: no op succeeded in {run.attempted} attempts")
    tail_ms, tail_p = tail(lat)
    detail = {"latency_tail_percentile": tail_p, "n_ops": len(lat), "rounds": rounds,
              "latencies_ms": lat,
              "peak_pss_mb_by_process": {k: v / 1024 for k, v in pss.peak_by_kind.items()}}
    if records:
        detail["atoms_per_s"] = records / busy
    return {
        "attempted": run.attempted, "failed": run.failed,
        "metrics": {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(lat) / busy, "1/s"),
            "latency_p50_ms": (median(lat), "ms"),
            "latency_tail_ms": (tail_ms, "ms"),
            "peak_pss_mb": (pss.peak_mb, "MB"),
        },
        "detail": detail,
    }


def traced(spark_setup, work: str, seed: int) -> dict:
    """One traced round of every pipeline, each after its warm-up, in one
    session, so every traced run reports the same per-layer metrics."""
    inputs = os.path.join(work, "inputs")
    sm = StructureMerge(os.path.join(inputs, "sm"), seed)
    lk = LakeIngest(os.path.join(inputs, "lake"), seed, batch=TRACED_BATCH)
    cat = CatalogMix(os.path.join(inputs, "catalog"), seed)
    spark = spark_setup()
    tracer = Tracer(spark)
    run = Run()
    m: dict[str, tuple[float, str]] = {}

    def put(wl, layer: str, field: str, unit: str) -> None:
        spans = tracer.of(f"{wl.PREFIX}.{layer}")
        m[f"{wl.PREFIX}.{layer}.{field}"] = (median([s[field] for s in spans]), unit)

    for wl in (sm, lk, cat):
        wl.warm_up(spark, tracer)
        for op in wl.rounds[0]:
            run.op(wl, spark, op, tracer)
    for wl, layers in ((sm, sm.LAYERS), (lk, lk.LAYERS), (cat, cat.QUERIES)):
        for layer in layers:
            put(wl, layer, "ms", "ms")
    for q in cat.QUERIES:
        put(cat, q, "jobs", "count")
    for q in cat.indexed:
        m[f"catalog.{q}.build_ms"] = (tracer.of(f"catalog.{q}.cold")[0]["ms"], "ms")

    # table_merger only plans (it starts no job), so it reports time alone
    for layer in sm.LAYERS[:4] + sm.LAYERS[5:]:
        put(sm, layer, "jobs", "count")
    put(sm, "exec.materialize", "tasks", "count")
    put(lk, "plans.lake.parse_mmcif_atoms_many", "tasks", "count")
    put(lk, "plans.mergers.lake_table_merger", "shuffle_read_bytes", "B")
    put(lk, "plans.mergers.lake_table_merger", "shuffle_write_bytes", "B")
    lake_bytes, lake_files = lk.written[0]
    m["lake.plans.lake.write_partitioned.bytes"] = (lake_bytes, "B")
    m["lake.plans.lake.write_partitioned.files"] = (lake_files, "count")
    m["lake.plans.lake.write_partitioned.bytes_per_atom"] = (
        lake_bytes / lk.size(lk.rounds[0][0]), "B")
    lake_spans = [s for s in tracer.spans if s["name"].startswith("lake.")]
    m["lake.exec.run_ms"] = (sum(s["run_ms"] for s in lake_spans), "ms")
    m["lake.exec.gc_ms"] = (sum(s["gc_ms"] for s in lake_spans), "ms")
    m["trace.overhead_ms"] = (tracer.overhead_s * 1000 / len(tracer.spans), "ms")
    return {"attempted": run.attempted, "failed": run.failed, "metrics": m,
            "detail": {"spans": tracer.spans}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ProteoFAV-on-Spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = ("proteofav_spark/__init__.py", "bench.py", "tools/check_oracles.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        _log(f"perfbench: run from the root of a repository checkout ({missing} not found here)")
        return 2
    sys.path[1:1] = [root, os.path.join(root, "tools")]

    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sessions = []

    def spark_setup():
        from proteofav_spark.session import warm_python_workers

        spark = start_spark(work)
        sessions.append(spark)
        warm_python_workers(spark)
        return spark

    try:
        if args.trace:
            result = traced(spark_setup, work, args.seed)
        else:
            result = measure(args.workload, spark_setup, work, args.seed, args.seconds)
    finally:
        for spark in sessions:
            stop_spark(spark)
    detail = result.pop("detail")
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({"args": vars(args), "result": result, "detail": detail}, fh)
    detail.pop("spans", None)
    _log("perfbench detail: " + json.dumps(detail))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
