#!/usr/bin/env python3
"""Field-by-field comparison of two output MS main tables.

Usage: python3 tools/ms_field_diff.py <base_ms> <new_ms>

For a change that reorders floating-point sums, where the two outputs
cannot match by hash. Rows are matched by (FIELD_ID, DATA_DESC_ID,
SCAN_NUMBER, ANTENNA1, ANTENNA2) and TIME rank within that key. Then:
  - every list shape and every column not named below is bit-identical;
  - WEIGHT and WEIGHT_SPECTRUM agree within 1e-12 absolute;
  - SIGMA and SIGMA_SPECTRUM agree within 1e-12 relative wherever the
    matching base weight magnitude is at least 1e-9;
  - DATA agrees within 1 float32 ulp in both parts.
Prints one line per column and exits 1 if any column fails.
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

KEYS = ["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2"]
ABS = {"WEIGHT": 1e-12, "WEIGHT_SPECTRUM": 1e-12}
REL = {"SIGMA": ("WEIGHT", 1e-12), "SIGMA_SPECTRUM": ("WEIGHT_SPECTRUM", 1e-12)}
ULP = {"DATA": 1}


def load(ms):
    """The main table, its rows ordered by key and TIME."""
    t = ds.dataset(f"{ms}/main", format="parquet", partitioning="hive").to_table()
    return t.take(pc.sort_indices(t, [(k, "ascending") for k in KEYS + ["TIME"]]))


def leaves(arr):
    """(list offsets at every nesting level, null mask, leaf arrays by name)."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    shape = [np.asarray(arr.is_null())]
    while pa.types.is_list(arr.type):
        shape.append(np.asarray(arr.value_lengths().fill_null(-1)))
        arr = arr.flatten()
    if pa.types.is_struct(arr.type):
        return shape, {f.name: arr.field(i).to_numpy(zero_copy_only=False)
                       for i, f in enumerate(arr.type)}
    return shape, {"": arr.to_numpy(zero_copy_only=False)}


def ordered_f32(x):
    """float32 bits mapped to integers whose difference counts ulps."""
    i = np.asarray(x, dtype=np.float32).view(np.int32).astype(np.int64)
    return np.where(i < 0, -(i & 0x7FFFFFFF), i)


def main(base_ms, new_ms):
    a, b = load(base_ms), load(new_ms)
    if a.num_rows != b.num_rows or sorted(a.column_names) != sorted(b.column_names):
        print(f"FAIL shape: rows {a.num_rows} vs {b.num_rows}, "
              f"columns {sorted(a.column_names)} vs {sorted(b.column_names)}")
        return 1
    print(f"rows {a.num_rows}")
    failed = False
    base = {c: leaves(a[c]) for c in a.column_names}
    for c in a.column_names:
        (sa, la), (sb, lb) = base[c], leaves(b[c])
        if any(not np.array_equal(x, y) for x, y in zip(sa, sb)):
            print(f"FAIL {c}: list shapes or nulls differ")
            failed = True
            continue
        for part in la:
            x, y, name = la[part], lb[part], c + (f".{part}" if part else "")
            if c in ABS:
                d = np.nanmax(np.abs(x - y), initial=0.0)
                ok = d <= ABS[c]
                print(f"{'ok  ' if ok else 'FAIL'} {name}: max abs diff {d:.3g}")
            elif c in REL:
                w, tol = REL[c]
                keep = np.abs(base[w][1][""]) >= 1e-9
                r = np.abs(x - y)[keep] / np.maximum(np.abs(x[keep]), np.finfo(float).tiny)
                d = np.nanmax(r, initial=0.0)
                ok = d <= tol
                print(f"{'ok  ' if ok else 'FAIL'} {name}: max rel diff {d:.3g} "
                      f"over {keep.sum()} of {len(x)} values")
            elif c in ULP:
                both_nan = np.isnan(x) & np.isnan(y)
                u = np.abs(ordered_f32(x) - ordered_f32(y))[~both_nan]
                d = int(u.max(initial=0))
                ok = d <= ULP[c]
                print(f"{'ok  ' if ok else 'FAIL'} {name}: max ulp diff {d}")
            else:
                same = (x == y) | (pd_isnan(x) & pd_isnan(y))
                ok = bool(np.all(same))
                print(f"{'ok  ' if ok else 'FAIL'} {name}: "
                      f"{'identical' if ok else f'{(~same).sum()} values differ'}")
            failed |= not ok
    return 1 if failed else 0


def pd_isnan(x):
    return np.isnan(x) if np.issubdtype(np.asarray(x).dtype, np.floating) else np.zeros(len(x), bool)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
