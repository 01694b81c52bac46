#!/usr/bin/env python3
"""Compare the generated inputs with a fixture directory, table by table.

    python3 perfbench/compare_fixtures.py FIXTURE_DIR [--seed 1] [--scale 0.1]

Generates the benchmark's inputs for ``--seed`` and ``--scale`` into a
temporary directory and prints, as a markdown table, the row count of every
table and per column the distinct count and the min / mean / max (numbers,
timestamps) or the share of the most frequent value (strings), for the
fixtures and the generated tables side by side, plus the document and
line-item shape statistics the pipelines' cost depends on.
FIXTURES_VS_GENERATED.md holds its output for the sf0.1 fixtures.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents")


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def table_stats(path: str) -> dict[str, str]:
    t = pq.read_table(path)
    out = {"rows": str(t.num_rows)}
    for name in t.column_names:
        col = t[name]
        out[f"{name} distinct"] = str(pc.count_distinct(col).as_py())
        if pa.types.is_string(col.type):
            top = max(pc.value_counts(col).field("counts").to_pylist())
            out[f"{name} top share"] = _fmt(top / t.num_rows)
        elif pa.types.is_timestamp(col.type):
            mm = pc.min_max(col).as_py()
            out[f"{name} min..max"] = f"{mm['min']:%Y-%m-%d}..{mm['max']:%Y-%m-%d}"
        else:
            mm = pc.min_max(col).as_py()
            out[f"{name} min / mean / max"] = " / ".join(
                _fmt(v) for v in (mm["min"], pc.mean(col).as_py(), mm["max"]))
    return out


def shape_stats(data_dir: str) -> dict[str, str]:
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas()
    words = docs.text.str.split()
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"), columns=["l_orderkey"])
    per_order = li.to_pandas().groupby("l_orderkey").size()
    return {
        "documents words per doc min / mean / max":
            f"{words.str.len().min()} / {words.str.len().mean():.4g} / {words.str.len().max()}",
        "documents vocabulary": str(len({w for ws in words for w in ws})),
        "documents share ending in ' dup'": _fmt(docs.text.str.endswith(" dup").mean()),
        "documents per source": str(sorted(set(docs.source.value_counts()))),
        "lineitem orders with items": str(len(per_order)),
        "lineitem items per order mean / max": f"{per_order.mean():.4g} / {per_order.max()}",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=0.1)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    import datagen

    with tempfile.TemporaryDirectory() as gen_dir:
        datagen.generate(gen_dir, args.seed, args.scale)
        print(f"Fixtures: `{os.path.basename(os.path.normpath(args.fixture_dir))}`; "
              f"generated: seed {args.seed}, scale {args.scale}.\n")
        print("| table | statistic | fixture | generated |")
        print("| --- | --- | --- | --- |")
        for name in TABLES:
            fix = table_stats(os.path.join(args.fixture_dir, f"{name}.parquet"))
            gen = table_stats(os.path.join(gen_dir, f"{name}.parquet"))
            for stat in fix:
                print(f"| {name} | {stat} | {fix[stat]} | {gen.get(stat, '(absent)')} |")
        fix, gen = shape_stats(args.fixture_dir), shape_stats(gen_dir)
        for stat in fix:
            table, what = stat.split(" ", 1)
            print(f"| {table} | {what} | {fix[stat]} | {gen[stat]} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
