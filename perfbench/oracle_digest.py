#!/usr/bin/env python3
"""Result digests of a catalog dump, in the form SearchMix pins.

    python3 perfbench/oracle_digest.py <dump-dir> [name ...]

<dump-dir> is the output directory of the program's correctness dump
(`graft.Verify`, run by `tools/check_oracle.py`): one parquet directory per
query. Once check_oracle has shown a dump equal to the DuckDB oracle, the
digests printed here are the values to pin. The canonical row text matches
`SearchMix.canonical` in the harness.
"""
import glob
import hashlib
import os
import struct
import sys
from decimal import Decimal

import pyarrow.parquet as pq


def canonical(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        bits = struct.unpack(">q", struct.pack(">d", v))[0]
        return format(bits & 0xFFFFFFFFFFFFFFFF, "x")
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canonical(x) for x in v.values()) + ")"
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def digest(table):
    rows = table.to_pylist()
    lines = sorted("(" + ",".join(canonical(r[c]) for c in table.column_names) + ")" for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update((line + "\n").encode("utf-8"))
    return h.hexdigest()


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out = sys.argv[1]
    names = sys.argv[2:] or sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d)))
    for name in names:
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        if not files:
            print(f"{name}: no dump", file=sys.stderr)
            continue
        table = pq.ParquetDataset(files).read()
        print(f'"{name}" -> "{digest(table)}",')


if __name__ == "__main__":
    main()
