"""Driver-memory measurement at the raw-collect / kernel-tier ceiling
(optimization round 12, VERDICT item #6 of round 11).

Two synthetic worst cases, run in THIS process so /proc VmHWM is the
peak of the measured work:

1. ``arrays_from_raw`` on a ~1 GiB on-disk lineitem.parquet of
   random full-range (l_orderkey, l_suppkey) int64 pairs — the raw
   gate of an 8g driver (``raw_gate_bytes``: driver memory ÷
   ``RAW_COLLECT_RSS_RATIO`` ≈ 1.14 GiB), called with an explicit
   2 GiB limit so the file always qualifies. Random keys do not
   compress, so this maximizes rows-per-byte honesty; the Arrow
   transfer, the numpy copies and the packed-unique sort all happen at
   full size before the (empty) pair stage.
2. ``build_arrays`` + ``sc.broadcast`` of a synthetic 16M-edge graph —
   the ``GRAPH_KERNEL_MAX_EDGES`` ceiling every kernel query pays when
   it ships the CSR to executors.

Prints python-driver and JVM peak RSS (VmHWM) after each phase.

Usage: python tools/measure_raw_collect_rss.py [--rows N] [--keep]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np


def vmhwm(pid: int | None = None) -> float:
    """Peak RSS in GiB for pid (default: this process)."""
    path = f"/proc/{pid or os.getpid()}/status"
    with open(path) as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) / (1024 * 1024)
    return float("nan")


def jvm_pid(sc) -> int | None:
    import subprocess

    out = subprocess.run(
        ["pgrep", "-f", "org.apache.spark.deploy.SparkSubmit"],
        capture_output=True, text=True,
    ).stdout.split()
    return int(out[0]) if out else None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=None,
                    help="rows for the synthetic parquet (default: sized to ~1 GiB)")
    ap.add_argument("--edges", type=int, default=16_000_000)
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = Path(tempfile.mkdtemp(prefix="rawcollect_"))
    path = tmp / "lineitem.parquet"
    # Random full-range int64 pairs: ~16.5 B/row on disk after
    # parquet's (ineffective) compression. 65M rows ≈ 1.02 GiB.
    rows = args.rows or 65_000_000
    rng = np.random.default_rng(42)
    CHUNK = 8_000_000
    writer = None
    written = 0
    while written < rows:
        n = min(CHUNK, rows - written)
        tbl = pa.table({
            "l_orderkey": rng.integers(0, 1 << 40, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 1 << 40, n, dtype=np.int64),
        })
        if writer is None:
            writer = pq.ParquetWriter(path, tbl.schema, compression="zstd")
        writer.write_table(tbl)
        written += n
    writer.close()
    disk = path.stat().st_size / (1 << 30)
    print(f"synthetic parquet: {rows} rows, {disk:.3f} GiB on disk")
    base_py = vmhwm()
    print(f"python VmHWM before collect: {base_py:.2f} GiB")

    from reddit_can_bigdata_spark.session import get_spark
    from reddit_can_bigdata_spark.operators import graphkernel as gk

    spark = get_spark("rss-probe")
    spark.sparkContext.setLogLevel("ERROR")
    jpid = jvm_pid(spark.sparkContext)
    # register only the lineitem view the raw collector reads
    g = gk.arrays_from_raw(spark, str(tmp), max_bytes=2 << 30)
    print(f"arrays_from_raw returned: "
          f"{'None (over edge gate — expected for random keys with 0 pairs? no: pairs=0 is fine)' if g is None else f'{g.n_nodes} nodes / {g.n_sym_edges} sym edges'}")
    print(f"python VmHWM after raw collect: {vmhwm():.2f} GiB")
    if jpid:
        print(f"JVM VmHWM after raw collect: {vmhwm(jpid):.2f} GiB "
              f"(spark.driver.memory=8g + overhead)")

    # phase 2: 16M-edge CSR + broadcast
    E = args.edges
    u = rng.integers(0, 8_000_000, E, dtype=np.int64)
    v = rng.integers(0, 8_000_000, E, dtype=np.int64)
    w = np.ones(E, dtype=np.int64)
    ga = gk.build_arrays(u, v, w)
    print(f"build_arrays: {ga.n_nodes} nodes / {ga.n_sym_edges} sym edges")
    print(f"python VmHWM after build_arrays: {vmhwm():.2f} GiB")
    b = spark.sparkContext.broadcast(ga)
    b.value  # force local materialization path
    print(f"python VmHWM after broadcast: {vmhwm():.2f} GiB")
    if jpid:
        print(f"JVM VmHWM after broadcast: {vmhwm(jpid):.2f} GiB")

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
