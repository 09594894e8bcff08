#!/usr/bin/env python3
"""Compare two graft.Verify dump directories key by key.

    python3 tools/compare_dumps.py <parentOut> <changeOut>

Each query key is a parquet directory; its rows are reduced to the sorted
row multiset `check_oracle.rows_of` builds (columns in name order, cells
normalized), then hashed together with the column names. Plain files
(oracle_sql.json) are compared byte for byte. Prints every key that
differs or exists on one side only; exits 1 if there is any."""
import sys, hashlib
from pathlib import Path
import pyarrow.parquet as pq
from check_oracle import rows_of


def digest(qdir):
    tbl = pq.read_table(qdir)
    names = tbl.column_names
    rows = rows_of([tbl.column(c).to_pylist() for c in names], names)
    return hashlib.sha256(repr((sorted(names), rows)).encode()).hexdigest(), len(rows)


def entry(path):
    return digest(path) if path.is_dir() else (hashlib.sha256(path.read_bytes()).hexdigest(), None)


def main(a, b):
    a, b = Path(a), Path(b)
    names = sorted({p.name for p in a.iterdir()} | {p.name for p in b.iterdir()})
    n_equal = 0
    bad = []
    for n in names:
        pa_, pb = a / n, b / n
        if not (pa_.exists() and pb.exists()):
            bad.append(f"MISSING {n}: only in {a if pa_.exists() else b}")
            continue
        (ha, ra), (hb, rb) = entry(pa_), entry(pb)
        if ha == hb:
            n_equal += 1
        else:
            rows = "" if ra is None else f" ({ra} vs {rb} rows)"
            bad.append(f"DIFF {n}{rows}")
    for line in bad:
        print(line)
    print(f"== {n_equal} equal, {len(bad)} differ or missing ==")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
