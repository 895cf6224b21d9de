"""Compare the benchmark's generated tables with a reference set of tables.

    python3 perfbench/datacheck.py REFERENCE_DIR --sf 0.01

``REFERENCE_DIR`` holds the ten parquet tables of the engine's test data at
scale factor ``--sf``.  The script builds the same tables with
``datagen.build_tables`` and checks, table by table, that the schemas and row
counts are equal and that every column has the same distribution: the
two-sample Kolmogorov-Smirnov distance between the columns (categories are
compared on their sorted union) must stay below its critical value at the
0.1% level.  Text is compared on its length and word count, embeddings on
their components and norms, and a few derived shapes are checked as well:
the gaps between event timestamps, the share of near-duplicate documents and
the documents' vocabulary.

It prints one line per check and exits with 1 when any check fails.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

ALPHA_COEF = 1.95  # c(alpha) of the two-sample KS test at alpha = 0.001


def ks(a: np.ndarray, b: np.ndarray) -> tuple[float, float]:
    """KS distance between two samples and its critical value."""
    a, b = np.sort(a), np.sort(b)
    grid = np.concatenate([a, b])
    d = np.abs(np.searchsorted(a, grid, "right") / len(a) - np.searchsorted(b, grid, "right") / len(b)).max()
    return float(d), ALPHA_COEF * np.sqrt((len(a) + len(b)) / (len(a) * len(b)))


def samples(col: pa.ChunkedArray, other: pa.ChunkedArray) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Numeric views of a column and its counterpart, by what is compared."""
    t = col.type
    if pa.types.is_list(t):
        flat = [np.asarray(pc.list_flatten(c).to_numpy(), np.float64) for c in (col, other)]
        norms = [np.linalg.norm(f.reshape(len(c), -1), axis=1) for f, c in zip(flat, (col, other))]
        return {"component": tuple(flat), "norm": tuple(norms)}
    if pa.types.is_string(t):
        out = {"length": tuple(np.asarray(pc.utf8_length(c).to_numpy(), np.float64) for c in (col, other))}
        values = set(col.to_pylist()) | set(other.to_pylist())
        if len(values) <= 200:
            code = {v: i for i, v in enumerate(sorted(values))}
            out["category"] = tuple(np.array([code[v] for v in c.to_pylist()], np.float64) for c in (col, other))
        else:
            out["words"] = tuple(
                np.asarray(pc.list_value_length(pc.utf8_split_whitespace(c)).to_numpy(), np.float64)
                for c in (col, other)
            )
        return out
    if pa.types.is_timestamp(t):
        return {"value": tuple(c.cast(pa.int64()).to_numpy().astype(np.float64) for c in (col, other))}
    return {"value": tuple(c.to_numpy().astype(np.float64) for c in (col, other))}


def derived(gen: dict[str, pa.Table], ref: dict[str, pa.Table]) -> list[tuple[str, bool, str]]:
    """Shapes no single column shows."""
    out = []
    gaps = [np.diff(np.sort(t["events"]["ts"].cast(pa.int64()).to_numpy())).astype(np.float64) for t in (gen, ref)]
    d, crit = ks(*gaps)
    out.append(("events.ts gaps", d <= crit, f"ks {d:.4f} <= {crit:.4f}"))
    dup = [float(np.mean(pc.ends_with(t["documents"]["text"], " dup").to_numpy(zero_copy_only=False))) for t in (gen, ref)]
    n = len(gen["documents"])
    tol = 3 * np.sqrt(0.05 * 0.95 / n) + 1 / n
    out.append(("documents near-duplicate share", abs(dup[0] - dup[1]) <= tol,
                f"{dup[0]:.3f} vs {dup[1]:.3f} (tolerance {tol:.3f})"))
    vocab = [set(w for x in t["documents"]["text"].to_pylist() for w in x.split()) - {"dup"} for t in (gen, ref)]
    out.append(("documents vocabulary", vocab[0] == vocab[1], f"{len(vocab[0])} vs {len(vocab[1])} words"))
    return out


def compare(gen: dict[str, pa.Table], ref: dict[str, pa.Table]) -> list[tuple[str, bool, str]]:
    """(check, passed, detail) for every table, column and derived shape."""
    out = []
    for name in datagen.TABLES:
        g, r = gen[name], ref[name]
        ok = g.schema.remove_metadata() == r.schema.remove_metadata()
        out.append((f"{name} schema", ok, "equal" if ok else f"{g.schema} vs {r.schema}"))
        out.append((f"{name} rows", len(g) == len(r), f"{len(g)} vs {len(r)}"))
        if not ok:
            continue
        for col in g.column_names:
            for what, (a, b) in samples(g[col], r[col]).items():
                d, crit = ks(a, b)
                out.append((f"{name}.{col} {what}", d <= crit, f"ks {d:.4f} <= {crit:.4f}"))
    return out + derived(gen, ref)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("reference", help="directory holding the reference parquet tables")
    p.add_argument("--sf", type=float, required=True, help="scale factor of the reference tables")
    args = p.parse_args()
    ref = {n: pq.read_table(os.path.join(args.reference, f"{n}.parquet")) for n in datagen.TABLES}
    results = compare(datagen.build_tables(args.sf), ref)
    for check, ok, detail in results:
        print(f"{'ok  ' if ok else 'FAIL'} {check:40s} {detail}")
    bad = sum(1 for _, ok, _ in results if not ok)
    print(f"{len(results) - bad} of {len(results)} checks pass")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
