"""Query-level evidence that Z-order clustering pays: files a stats-pruning
scan must read for a two-column predicate, per layout.

Writes the same events table (sf0.1 by default) three ways at equal file
count — unclustered (hash-distributed), sorted by user_id only, and
Z-ordered on (user_id, value) via sources.lake.write_zordered — then, for
a two-dimensional predicate box, counts the files whose parquet footer
min/max stats overlap the box. That count IS the file set a min/max-
pruning reader (Spark parquet filter pushdown, Delta/Iceberg data
skipping) scans; everything else is skipped from footers alone.

Also cross-checks with Spark itself: runs the filtered count per layout
and reports the scan's actual wall time.

Usage: python tools/zorder_evidence.py [sf_dir] [n_files]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def overlap_files(path: str, box: dict[str, tuple]) -> tuple[int, int]:
    """(files whose row-group stats overlap the box, total files)."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    hit = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        file_overlaps = False
        for rg in range(md.num_row_groups):
            rg_md = md.row_group(rg)
            ok = True
            for col, (lo, hi) in box.items():
                st = rg_md.column(names.index(col)).statistics
                if st is None or not st.has_min_max:
                    continue  # no stats -> cannot skip
                if st.max < lo or st.min > hi:
                    ok = False
                    break
            if ok:
                file_overlaps = True
                break
        hit += file_overlaps
    return hit, len(files)


def main() -> None:
    if {"-h", "--help"} & set(sys.argv[1:]):
        print(__doc__)
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from pyspark.sql import functions as F

    from tern_ep_data_pipeline_spark.session import get_spark
    from tern_ep_data_pipeline_spark.sources.lake import write_zordered
    from tern_ep_data_pipeline_spark.sources.tables import load_table

    spark = get_spark("zorder-evidence")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # predicate box ~ a few percent of each dimension's range
    stats = events.agg(
        F.max("user_id").alias("mu"), F.max("value").alias("mv")
    ).first()
    u_hi = int(stats["mu"] * 0.05)
    # value is exponentially distributed: take the ~2% upper tail so the
    # value predicate is actually selective in rows, not just in range
    v_lo = float(events.approxQuantile("value", [0.98], 0.001)[0])
    v_hi = float(stats["mv"])
    # three predicates: the single-column sort only helps its leading
    # column; the Z-order layout must prune for ANY of them
    boxes = {
        "user_only": {"user_id": (0, u_hi)},
        "value_only": {"value": (v_lo, v_hi)},
        "both": {"user_id": (0, u_hi), "value": (v_lo, v_hi)},
    }

    tmp = tempfile.mkdtemp(prefix="zorder_ev_")
    layouts = {}
    try:
        p_un = os.path.join(tmp, "unclustered")
        events.repartition(n_files).write.parquet(p_un)
        p_one = os.path.join(tmp, "sorted_user")
        events.repartitionByRange(n_files, "user_id").sortWithinPartitions(
            "user_id"
        ).write.parquet(p_one)
        p_z = os.path.join(tmp, "zordered")
        write_zordered(events, p_z, ["user_id", "value"], n_files=n_files)

        for name, path in (
            ("unclustered", p_un),
            ("sorted_user_only", p_one),
            ("zordered_user_value", p_z),
        ):
            per_box = {}
            for bname, box in boxes.items():
                hit, total = overlap_files(path, box)
                cond = F.lit(True)
                for col, (lo, hi) in box.items():
                    cond = cond & F.col(col).between(lo, hi)
                t0 = time.time()
                n = spark.read.parquet(path).where(cond).count()
                per_box[bname] = {
                    "files_scanned": hit,
                    "files_total": total,
                    "rows_matched": n,
                    "scan_sec": round(time.time() - t0, 3),
                }
                print(
                    f"# {name} [{bname}]: {hit}/{total} files overlap, {n} rows",
                    file=sys.stderr,
                )
            layouts[name] = per_box
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "predicates": {
                        b: {k: list(v) for k, v in box.items()}
                        for b, box in boxes.items()
                    },
                    "layouts": layouts,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
