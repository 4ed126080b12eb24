#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs dump by dump.

    tools/compare_dumps.py <before> <after>

Every query dir of the two outputs, and every dir of their `<out>_staged`
siblings (typed-parse staging and replay oracles), is read with pyarrow and
compared with `Table.equals` (schema, values and row order). Prints one line
per dump and exits non-zero if any dump differs or exists on one side only.
A deletion or refactor that must keep results bit-identical is checked by
running Verify on the parent and on the change and comparing the two.
"""
import os
import sys

import pyarrow.parquet as pq


def dumps(root):
    if not os.path.isdir(root):
        return set()
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d)) and not d.startswith(("_", "."))}


def compare(before, after, label):
    names = dumps(before) | dumps(after)
    bad = 0
    for name in sorted(names):
        b, a = os.path.join(before, name), os.path.join(after, name)
        if not (os.path.isdir(b) and os.path.isdir(a)):
            print(f"MISSING {label}{name}: only in {'before' if os.path.isdir(b) else 'after'}")
            bad += 1
            continue
        tb, ta = pq.read_table(b), pq.read_table(a)
        if tb.equals(ta):
            print(f"SAME    {label}{name}: {tb.num_rows} rows")
        else:
            print(f"DIFF    {label}{name}: {tb.num_rows} rows before, {ta.num_rows} after")
            bad += 1
    return len(names), bad


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = (p.rstrip("/") for p in sys.argv[1:])
    n, bad = compare(before, after, "")
    ns, bad_s = compare(before + "_staged", after + "_staged", "_staged/")
    print(f"{n} query dumps, {ns} staged dumps, {bad + bad_s} differ or missing")
    sys.exit(1 if bad + bad_s or n == 0 else 0)


if __name__ == "__main__":
    main()
