#!/usr/bin/env python3
"""Synthesize an sf1-like fixture by replicating sf0.1 x10 with shifted
keys (schemas preserved bit-exact via pyarrow). Small dimension tables
(region/nation/supplier) copy through unchanged so gate fixtures keep
their shapes. Usage: make_sf1.py [srcDir] [dstDir] [copies]"""
import sys, os, shutil
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

# per-table key columns to shift per copy (disjoint id spaces per copy);
# non-key payloads replicate verbatim (planted duplicates for dedup ops)
SHIFTS = {
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 2_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_500_000},
    "customer": {"c_custkey": 1_500_000},
    "part": {"p_partkey": 2_000_000},
    "events": {"event_id": 10_000_000, "user_id": 100_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}
COPY_THROUGH = ["region", "nation", "supplier"]


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)

    for t in COPY_THROUGH:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
        print(f"{t}: copied")

    for t, shifts in SHIFTS.items():
        tab = pq.read_table(f"{src}/{t}.parquet")
        parts = []
        for i in range(copies):
            cur = tab
            for col, step in shifts.items():
                idx = cur.schema.get_field_index(col)
                shifted = pc.add(cur.column(col), pa.scalar(i * step, cur.schema.field(col).type))
                cur = cur.set_column(idx, cur.schema.field(col), shifted)
            parts.append(cur)
        out = pa.concat_tables(parts)
        pq.write_table(out, f"{dst}/{t}.parquet", compression="zstd")
        print(f"{t}: {tab.num_rows} -> {out.num_rows}")


if __name__ == "__main__":
    main()
