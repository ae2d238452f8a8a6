#!/usr/bin/env python3
"""Expected result fingerprints from the DuckDB oracle.

Usage: python3 perfbench/expected.py <oracles.json> <data_dir> <scale> <out.json>

<oracles.json> maps query name -> oracle SQL (written by
`perfbench.Main --dump-oracles`). Each SQL runs in DuckDB over one view per
generated table, as the repository's oracle gate does, and its rows are
fingerprinted exactly as perfbench/src/main/scala/perfbench/Fingerprint.scala
fingerprints the engine's rows: columns sorted by name, every number encoded
as the bits of its IEEE double, timestamps as UTC epoch micros, dates as epoch
days, one SHA-1 per row, row hashes summed mod 2^64.

Run it whenever gendata.py or the query set changes; the benchmark compares
against the stored file and never needs DuckDB at run time.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)
SEP = "\u0001"


def num(d: float) -> str:
    if math.isnan(d):
        return "fnan"
    if d == 0.0:
        d = 0.0
    bits = struct.unpack(">q", struct.pack(">d", d))[0]
    return "f" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def encode(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (int, float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "d" + str((v - dt.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(encode(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(encode(x) for x in v) + "]"
    return "?" + str(v)


def fingerprint(names, rows) -> str:
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    n = 0
    for r in rows:
        line = SEP.join(encode(r[i]) for i in order)
        h = hashlib.sha1(line.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
        n += 1
    return f"{n}:{total:x}:{','.join(sorted(names))}"


def main():
    oracles_path, data_dir, scale, out = sys.argv[1:5]
    with open(oracles_path) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    fps = {}
    for name in sorted(oracles):
        cur = con.execute(oracles[name])
        names = [d[0] for d in cur.description]
        fps[name] = fingerprint(names, cur.fetchall())
    with open(out, "w") as f:
        json.dump({"scale": float(scale), "oracle": "duckdb " + duckdb.__version__,
                   "fingerprints": fps}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
