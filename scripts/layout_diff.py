#!/usr/bin/env python3
"""Row-level diff of two vector-index layouts.

Usage: layout_diff.py <layoutA> <layoutB>

A layout is the directory `VectorIndex.buildFrom` writes: `meta/*`
(centroids, codebooks, rotation, bqmean, params), `vectors`, `lsh` and,
once mutated, `tombstones` and `payload`. For every table under either
directory it prints both row counts and the rows of `A EXCEPT ALL B`
and `B EXCEPT ALL A` (DuckDB; hive partition columns such as
`cluster_id` and `band_id` are read back as columns, float arrays
compare exactly). A table present on one side only counts as a
difference. Exits 0 when every table matches row for row, 1 otherwise.
"""
import os
import sys

import duckdb

TOP = ("vectors", "lsh", "tombstones", "payload")


def tables(layout):
    """Table name -> directory, for the tables a layout holds."""
    found = {}
    meta = os.path.join(layout, "meta")
    if os.path.isdir(meta):
        for t in sorted(os.listdir(meta)):
            if not t.startswith((".", "_")) and os.path.isdir(os.path.join(meta, t)):
                found[f"meta/{t}"] = os.path.join(meta, t)
    for t in TOP:
        if os.path.isdir(os.path.join(layout, t)):
            found[t] = os.path.join(layout, t)
    return found


def relation(con, d):
    files = []
    for root, dirs, names in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        files += [os.path.join(root, n) for n in names
                  if n.endswith(".parquet") and not n.startswith((".", "_"))]
    if not files:
        return None
    listing = ", ".join("'" + f.replace("'", "''") + "'" for f in sorted(files))
    return con.sql(f"SELECT * FROM read_parquet([{listing}], hive_partitioning = true)")


def main(a, b):
    con = duckdb.connect()
    ta, tb = tables(a), tables(b)
    differ = 0
    for name in sorted(set(ta) | set(tb)):
        if name not in ta or name not in tb:
            print(f"[DIFF] {name}: only under {a if name in ta else b}")
            differ += 1
            continue
        ra, rb = relation(con, ta[name]), relation(con, tb[name])
        if ra is None or rb is None:
            same = ra is None and rb is None
            print(f"[{'same' if same else 'DIFF'}] {name}: "
                  f"files A={ra is not None} B={rb is not None}")
            differ += 0 if same else 1
            continue
        cols_a = sorted(ra.columns)
        cols_b = sorted(rb.columns)
        if cols_a != cols_b:
            print(f"[DIFF] {name}: columns A={cols_a} B={cols_b}")
            differ += 1
            continue
        sel = ", ".join(f'"{c}"' for c in cols_a)
        con.register("ta", ra.project(sel))
        con.register("tb", rb.project(sel))
        na = con.sql("SELECT count(*) FROM ta").fetchone()[0]
        nb = con.sql("SELECT count(*) FROM tb").fetchone()[0]
        a_b = con.sql("SELECT count(*) FROM (SELECT * FROM ta EXCEPT ALL SELECT * FROM tb)").fetchone()[0]
        b_a = con.sql("SELECT count(*) FROM (SELECT * FROM tb EXCEPT ALL SELECT * FROM ta)").fetchone()[0]
        ok = na == nb and a_b == 0 and b_a == 0
        differ += 0 if ok else 1
        print(f"[{'same' if ok else 'DIFF'}] {name}: rows A={na} B={nb} "
              f"A-B={a_b} B-A={b_a}")
        con.unregister("ta")
        con.unregister("tb")
    print(f"{len(set(ta) | set(tb))} tables, {differ} differing")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
