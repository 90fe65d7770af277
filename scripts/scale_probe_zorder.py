#!/usr/bin/env python
"""Z-order READ-SIDE payoff probe at 10× (r9 verdict #1).

The write path is unit-pinned (tests/test_zorder.py: footer min/max on a
grid fixture), but the claim the tier exists for is that a READER's box
predicate actually skips files/row groups at scale. This probe measures
that end to end on the 10× events table (scripts/make_scale10x.py):

1. Write the SAME rows twice at 64 files each:
   (a) ``write_zorder`` on (x = user_id mod 4096, y = minute-of-day),
   (b) ``write_range_partitioned`` on x alone (the single-column sort a
       z-order layout competes with).
2. Run the same box predicates through Spark's parquet reader against
   both layouts and record, per layout:
   - ``files_touched``: #files whose footer min/max intersects the box —
     the engine-independent prunability number (pyarrow, the same stats
     any engine prunes with);
   - ``records_read``: executor input records actually scanned (app
     status store delta) — proof Spark's row-group pruning FIRED, not
     just that it could have;
   - min-of-3 wall.
3. Assert both layouts return identical results, and that the z-order
   layout's y-box scan touches/reads a fraction of the x-sort's.

Queries: ``y_box`` filters ONLY the second dimension (y BETWEEN 600 AND
640) — the case a single-column x sort cannot prune at all (y is
uniformly smeared across every file) while z-order gives every dimension
partial pruning power; ``xy_box`` filters both dimensions, where the
x-sort prunes on x and z-order prunes on both.

Usage: python scripts/scale_probe_zorder.py [sf1_dir] [n_files]
Prints one JSON line; numbers recorded in SCALE.md.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sparkgraft-sf1.0"
N_FILES = int(sys.argv[2]) if len(sys.argv) > 2 else 64
BITS = 12  # x in [0,4096), y = minute-of-day in [0,1440) — both fit


def files_touched(path: str, box: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(#files whose footer stats intersect the box on EVERY predicated
    column, #files) — what a stats-pruning reader must touch."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    touch = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        mins: dict[str, int] = {}
        maxs: dict[str, int] = {}
        no_stats: set[str] = set()
        for rg in range(md.num_row_groups):
            for ci, name in enumerate(names):
                if name not in box:
                    continue
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    # a row group without min/max for a predicated
                    # column cannot be pruned — the reader must touch
                    # the file (ADVICE r10: was an AttributeError)
                    no_stats.add(name)
                    continue
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
        if all(
            c in no_stats
            or c not in mins
            or (maxs[c] >= lo and mins[c] <= hi)
            for c, (lo, hi) in box.items()
        ):
            touch += 1
    return touch, len(files)


def main() -> None:
    if not os.path.isdir(SF1):
        raise SystemExit(f"{SF1} missing — run scripts/make_scale10x.py")
    import shutil
    import tempfile

    from pyspark.sql import SparkSession, functions as F

    from similarity_search_with_hadoop_mapreduce_spark.sources.sinks import (
        write_range_partitioned,
        write_zorder,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.locality.wait", "0")
        .config("spark.scheduler.revive.interval", "1ms")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def input_records() -> int:
        # drain the async listener bus first or a just-finished job's
        # metrics may not have landed in the status store yet
        sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        store = sc._jsc.sc().statusStore()
        seq = store.stageList(
            sc._jvm.java.util.ArrayList(),
            False,
            False,
            sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        it = seq.iterator()
        total = 0
        while it.hasNext():
            total += it.next().inputRecords()
        return total

    ev = (
        spark.read.parquet(os.path.join(SF1, "events.parquet"))
        .select(
            "event_id",
            "value",
            F.pmod(F.col("user_id"), F.lit(4096)).alias("x"),
            (F.hour("ts") * 60 + F.minute("ts")).alias("y"),
        )
    )

    tmp = tempfile.mkdtemp(prefix="zorder-probe-", dir="/dev/shm")
    za, xa = os.path.join(tmp, "zorder"), os.path.join(tmp, "xsort")
    t0 = time.perf_counter()
    write_zorder(ev, za, ["x", "y"], n_files=N_FILES, bits=BITS)
    t_wz = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    write_range_partitioned(ev, xa, "x", n_files=N_FILES)
    t_wx = round(time.perf_counter() - t0, 3)

    boxes = {
        "y_box": {"y": (600, 640)},
        "xy_box": {"x": (1000, 1200), "y": (600, 700)},
    }

    def run(path: str, box: dict) -> dict:
        def build():
            # fresh lineage per iteration: re-collecting one DataFrame
            # object reuses its materialized shuffle map output and the
            # scan stage is SKIPPED (delta records would read 0)
            df = spark.read.parquet(path)
            for c, (lo, hi) in box.items():
                df = df.filter(F.col(c).between(lo, hi))
            # checksum aggregate: tiny result, scan cost dominates
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").alias("sid"),
                F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
            )

        build().collect()  # warm: footer cache, codegen
        best, recs = float("inf"), None
        for _ in range(3):
            agg = build()
            r0 = input_records()
            t0 = time.perf_counter()
            row = agg.collect()[0]
            dt = time.perf_counter() - t0
            dr = input_records() - r0
            if dt < best:
                best, recs = dt, dr
        ft, nf = files_touched(path, box)
        return {
            "wall": round(best, 3),
            "records_read": recs,
            "files_touched": ft,
            "n_files": nf,
            "result": [row.n, int(row.sid), str(row.sv)],
        }

    out: dict = {
        "artifact": "scale_probe_zorder",
        "sf1_dir": SF1,
        "n_rows": ev.count(),
        "n_files": N_FILES,
        "write_wall": {"zorder": t_wz, "xsort": t_wx},
        "queries": {},
    }
    failures = []
    for qname, box in boxes.items():
        rz = run(za, box)
        rx = run(xa, box)
        if rz["result"] != rx["result"]:
            failures.append(f"{qname}: results differ {rz} vs {rx}")
        out["queries"][qname] = {
            "box": {c: list(v) for c, v in box.items()},
            "zorder": {k: v for k, v in rz.items() if k != "result"},
            "xsort": {k: v for k, v in rx.items() if k != "result"},
            "records_ratio": round(
                rz["records_read"] / max(rx["records_read"], 1), 3
            ),
        }

    # The pruning-fired assertions (the probe's whole point):
    yq = out["queries"]["y_box"]
    # x-sort cannot prune a y-only box: footer stats touch ~every file
    if yq["xsort"]["files_touched"] < 0.9 * yq["xsort"]["n_files"]:
        failures.append(
            "x-sort unexpectedly prunable on y — fixture not smearing y: "
            f"{yq['xsort']}"
        )
    # z-order must touch materially fewer files AND Spark must have
    # actually read materially fewer records through its reader
    if yq["zorder"]["files_touched"] > 0.6 * yq["xsort"]["files_touched"]:
        failures.append(f"z-order footer pruning weak: {yq['zorder']}")
    if yq["records_ratio"] > 0.6:
        failures.append(
            f"Spark row-group pruning did not fire: ratio {yq['records_ratio']}"
        )
    out["pruning_fired"] = not failures
    if failures:
        out["failures"] = failures

    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()
    raise SystemExit(1 if failures else 0)


if __name__ == "__main__":
    main()
