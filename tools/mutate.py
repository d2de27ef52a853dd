#!/usr/bin/env python3
"""File-level mutants of a graft.Verify result tree, for tools/mutation_check.sh.

Usage:
  python3 tools/mutate.py write <cleanDir> <outPrefix>
      Writes three mutated copies of <cleanDir> (one directory per mutant,
      <outPrefix>.<mutant>) and <outPrefix>.applied.tsv, which says for each
      query whether the mutant applies. A query the mutant does not apply to
      is linked to its clean result, as is oracle_sql.json.
  python3 tools/mutate.py table <outPrefix>
      Joins <outPrefix>.applied.tsv with tools/check.py's logs of the three
      trees (<outPrefix>.<mutant>.log) into one row per query: "caught" (the
      check went red), "GREEN" (mutated, but the check still passed) or "n/a".

Mutants, each acting on the result file a miscompiled query would write:
  int_to_double   the first integral column cast to double (dtype path)
  perturb_cell    the first non-null scalar cell of the first column that has
                  one: +1 for a number, a flipped boolean, "~" appended to a
                  string or binary (value path)
  drop_last_row   the last row dropped (row-count path)
"""
import decimal
import glob
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MUTANTS = ["int_to_double", "perturb_cell", "drop_last_row"]


def int_to_double(t):
    for i, f in enumerate(t.schema):
        if pa.types.is_integer(f.type):
            col = pc.cast(t.column(i), pa.float64())
            return t.set_column(i, pa.field(f.name, pa.float64()), col), f.name
    return None, "no integral column"


def bumped(v, typ):
    """`v` changed by the smallest edit its type allows, or None."""
    if pa.types.is_boolean(typ):
        return not v
    if pa.types.is_integer(typ):
        return v + 1 if v < 2 ** (typ.bit_width - 1) - 1 else v - 1
    if pa.types.is_floating(typ):
        if v != v or v + 1 == v:  # NaN, or +1 below the float's resolution
            return None
        return v + 1
    if pa.types.is_decimal(typ):
        one = decimal.Decimal(1)
        limit = decimal.Decimal(10) ** (typ.precision - typ.scale)
        return v + one if abs(v + one) < limit else v - one
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return v + "~"
    if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return v + b"~"
    return None


def perturb_cell(t):
    for i, f in enumerate(t.schema):
        values = t.column(i).to_pylist()
        for row, v in enumerate(values):
            if v is None:
                continue
            nv = bumped(v, f.type)
            if nv is None:
                continue
            values[row] = nv
            col = pa.array(values, type=f.type)
            return t.set_column(i, f, col), f"{f.name} row {row}: {v!r} -> {nv!r}"
    return None, "no non-null scalar cell"


def drop_last_row(t):
    if t.num_rows == 0:
        return None, "no rows"
    return t.slice(0, t.num_rows - 1), f"{t.num_rows} -> {t.num_rows - 1} rows"


def write(clean, prefix):
    names = sorted(os.path.basename(d) for d in glob.glob(f"{clean}/*")
                   if os.path.isdir(d))
    applied = {}
    for m in MUTANTS:
        out = f"{prefix}.{m}"
        os.makedirs(out)
        os.symlink(os.path.abspath(f"{clean}/oracle_sql.json"),
                   f"{out}/oracle_sql.json")
        for name in names:
            src = f"{clean}/{name}"
            mutated, note = None, "no result file"
            if glob.glob(f"{src}/*.parquet"):
                mutated, note = globals()[m](pq.read_table(src))
            if mutated is None:
                os.symlink(os.path.abspath(src), f"{out}/{name}")
            else:
                os.makedirs(f"{out}/{name}")
                pq.write_table(mutated, f"{out}/{name}/part-0.parquet")
            applied[(name, m)] = ("mutated" if mutated is not None else "n/a", note)
    with open(f"{prefix}.applied.tsv", "w") as f:
        for name in names:
            for m in MUTANTS:
                state, note = applied[(name, m)]
                f.write(f"{name}\t{m}\t{state}\t{note}\n")


def table(prefix):
    verdict = {}
    for m in MUTANTS:
        for line in open(f"{prefix}.{m}.log"):
            word, _, rest = line.partition(" ")
            if word in ("PASS", "FAIL"):
                verdict[(rest.split(":")[0].split(" ")[0], m)] = word
    rows, totals = {}, {m: {"caught": 0, "GREEN": 0, "n/a": 0} for m in MUTANTS}
    for line in open(f"{prefix}.applied.tsv"):
        name, m, state, _ = line.rstrip("\n").split("\t")
        if state == "n/a":
            cell = "n/a"
        else:
            cell = "caught" if verdict.get((name, m)) == "FAIL" else "GREEN"
        rows.setdefault(name, {})[m] = cell
        totals[m][cell] += 1
    print("query\t" + "\t".join(MUTANTS))
    for name in sorted(rows):
        print(name + "\t" + "\t".join(rows[name][m] for m in MUTANTS))
    for m in MUTANTS:
        t = totals[m]
        print(f"# {m}: {t['caught']} caught, {t['GREEN']} green, {t['n/a']} n/a",
              file=sys.stderr)
    return 1 if any(totals[m]["GREEN"] for m in MUTANTS) else 0


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "write":
        write(sys.argv[2], sys.argv[3])
    elif cmd == "table":
        sys.exit(table(sys.argv[2]))
    else:
        sys.exit(__doc__)
