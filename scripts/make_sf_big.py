#!/usr/bin/env python3
"""Synthesize a large fixture by replicating a source dir N x with
shifted keys, STREAMING one copy at a time through a ParquetWriter so
memory stays ~1 copy regardless of N (make_sf1.py concat's all copies
in RAM — fine for x10/x100, ~60 GB at x1000).

The key-shift table is make_sf1.py's (imported); steps hold to x1000
(largest id: l_orderkey ~ 10^10 < int64). Small dims copy through
unchanged.

Usage: make_sf_big.py [srcDir] [dstDir] [copies] [table ...]
  (tables default to all; pass a subset to build only what a gate
   subset needs)
"""
import sys, os, shutil
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc
from make_sf1 import COPY_THROUGH, SHIFTS

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf100"
copies = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
only = set(sys.argv[4:])
os.makedirs(dst, exist_ok=True)

for t in COPY_THROUGH:
    if only and t not in only:
        continue
    shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    print(f"{t}: copied", flush=True)

for t, shifts in SHIFTS.items():
    if only and t not in only:
        continue
    tab = pq.read_table(f"{src}/{t}.parquet")
    with pq.ParquetWriter(f"{dst}/{t}.parquet", tab.schema,
                          compression="zstd") as w:
        for i in range(copies):
            cur = tab
            for col, step in shifts.items():
                idx = cur.schema.get_field_index(col)
                shifted = pc.add(cur.column(col),
                                 pa.scalar(i * step, cur.schema.field(col).type))
                cur = cur.set_column(idx, cur.schema.field(col), shifted)
            w.write_table(cur)
    print(f"{t}: {tab.num_rows} -> {tab.num_rows * copies}", flush=True)
