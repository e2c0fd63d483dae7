#!/usr/bin/env python3
"""Compare two Verify output directories gate by gate.
Usage: python3 tools/same_outputs.py <dirA> <dirB>

Two gate outputs are identical when their decoded Arrow schemas, their
parquet key-value metadata and their rows are equal. Rows are compared
exactly (every cell's Python value from pyarrow, columns sorted by name,
rows sorted), so the part-file split and the row order do not matter, but
a float or a list element that differs in its last bit does. check.py's
`norm` is not used: it prints list cells through numpy, which rounds them.

File hashes cannot be compared instead: parquet-mr writes each column
chunk's `encodings` list in hash-set order, so two runs of the same code
write different bytes.

The two dirs' oracle_sql.json files are compared too: the same gate names,
and byte-equal SQL for each. Exits 1 if any gate differs or exists on one
side only, or if the oracles differ.
"""
import glob
import json
import os
import sys

import pyarrow.parquet as pq


def decode(qdir):
    """(schemas, key-value metadata, sorted rows) over a gate's part files."""
    schemas, meta, rows = set(), set(), []
    for f in sorted(glob.glob(f"{qdir}/*.parquet")):
        pf = pq.ParquetFile(f)
        schemas.add(pf.schema_arrow.remove_metadata().to_string())
        meta.add(tuple(sorted((pf.metadata.metadata or {}).items())))
        table = pf.read()
        names = sorted(table.column_names)
        rows += [repr(tuple(r[c] for c in names)) for r in table.to_pylist()]
    rows.sort()
    return schemas, meta, rows


def oracle_diffs(a, b):
    """(lines naming each oracle difference, count of identical oracles)."""
    sides = []
    for d in (a, b):
        f = f"{d}/oracle_sql.json"
        if not os.path.exists(f):
            return [f"ORACLE DIFF: no oracle_sql.json in {d}"], 0
        with open(f, encoding="utf-8") as fh:
            sides.append(json.load(fh))
    oa, ob = sides
    lines = [f"ORACLE DIFF {k}: only in {a if k in oa else b}" for k in sorted(oa.keys() ^ ob.keys())]
    lines += [f"ORACLE DIFF {k}: SQL differs" for k in sorted(oa.keys() & ob.keys()) if oa[k] != ob[k]]
    return lines, sum(oa[k] == ob[k] for k in oa.keys() & ob.keys())


def main():
    a, b = sys.argv[1], sys.argv[2]

    def gates(d):
        return {os.path.basename(p.rstrip("/")) for p in glob.glob(f"{d}/*/")}

    in_a, in_b = gates(a), gates(b)
    same = differ = 0
    for name in sorted(in_a ^ in_b):
        print(f"DIFF {name}: only in {a if name in in_a else b}")
        differ += 1
    for name in sorted(in_a & in_b):
        da, db = decode(f"{a}/{name}"), decode(f"{b}/{name}")
        if not da[0] or not db[0]:
            what = ["no parquet"]
        else:
            what = [k for k, x, y in zip(("schema", "metadata", "rows"), da, db) if x != y]
        if what:
            print(f"DIFF {name}: {', '.join(what)} ({len(da[2])} vs {len(db[2])} rows)")
            differ += 1
        else:
            print(f"SAME {name}: {len(da[2])} rows")
            same += 1
    odiff, osame = oracle_diffs(a, b)
    for line in odiff:
        print(line)
    print(f"\n== {same} identical, {differ} differ; oracles: {osame} identical, "
          f"{len(odiff)} differ ==")
    sys.exit(1 if differ or odiff else 0)


if __name__ == "__main__":
    main()
