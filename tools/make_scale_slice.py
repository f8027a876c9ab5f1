"""Generate a larger scale slice by key-shifted replication of sf0.1.

The driver's testdata generator is not shipped, so scaling measurements
(round-2 VERDICT #5) build sfX = K copies of sf0.1 with every entity key
offset by copy-index * stride. This preserves the per-copy value
distributions EXACTLY (each copy is bit-identical modulo keys) while
multiplying cardinalities and join fan-in K-fold — which is the quantity
the scaling curves measure. Referential integrity is preserved:
customer/orders share the custkey shift, orders/lineitem the orderkey
shift, supplier/lineitem the suppkey shift, part/lineitem the partkey
shift. region/nation are fixed dimension domains and are NOT replicated
(their keys are semantic, 25 nations / 5 regions at every TPC-H scale).
Text bodies are replicated unchanged, so dedup families see K-member
duplicate clusters — bounded K² pair work per cluster, the realistic
shape of a corpus crawled K times.

Usage: python tools/make_scale_slice.py K OUT_DIR   (e.g. 5 /tmp/scale/sf0.5)

`--multifile` (r9, verdict ask #7): write each copy as its OWN part file
inside a `<name>.parquet/` DIRECTORY instead of one concatenated file.
sf0.1 tables are single-row-group single-file parquet, so scan task count
is capped at 1/table regardless of config (r8 finding #5) and core-count
scaling ratios are ≈1 by construction; a K-file table gives the scan
K-way real parallelism (time it with `tools/entries.py time --sf-dir
OUT_DIR` at each core count). spark.read.parquet and DuckDB read_parquet both accept the
directory path transparently.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

# per-table: {column: stride} — key columns offset by copy * stride;
# strides are far above each table's max key so copies never collide
STRIDES = {
    "customer": {"c_custkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 100_000,
    },
    "part": {"p_partkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
FIXED = ["region", "nation"]


def main() -> None:
    if "--perturb" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--perturb"]
        perturb(args[1], int(args[0]))
        return
    multifile = "--multifile" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    k = int(args[0])
    out = args[1]
    os.makedirs(out, exist_ok=True)
    for name in FIXED:
        pq.write_table(
            pq.read_table(f"{SRC}/{name}.parquet"), f"{out}/{name}.parquet"
        )
        print(f"{name}: copied")
    for name, strides in STRIDES.items():
        base = pq.read_table(f"{SRC}/{name}.parquet")
        copies = []
        for c in range(k):
            t = base
            for col, stride in strides.items():
                idx = t.column_names.index(col)
                shifted = pc.add(t.column(col), pa.scalar(c * stride, pa.int64()))
                t = t.set_column(idx, t.field(idx), shifted)
            copies.append(t)
        if multifile:
            d = f"{out}/{name}.parquet"
            os.makedirs(d, exist_ok=True)
            for c, t in enumerate(copies):
                pq.write_table(t, f"{d}/part-{c:03d}.parquet")
            print(f"{name}: {base.num_rows} x {k} = {base.num_rows * k} ({k} files)")
        else:
            merged = pa.concat_tables(copies)
            pq.write_table(merged, f"{out}/{name}.parquet")
            print(f"{name}: {base.num_rows} x {k} = {merged.num_rows}")


def perturb(out_dir: str, k: int) -> None:
    """--perturb variant: same key-shifted replication, but copy c>0 gets
    content decorrelated from copy 0 so DUPLICATE DENSITY stays constant
    as volume grows (the plain replication multiplies every doc/vector
    into a k-member near-dup cluster, which inflates candidate-pair work
    quadratically and conflates 'superlinear in volume' with 'superlinear
    in dup density'):
      - documents: every 3rd token is replaced by a copy-unique token, so
        every 3-shingle crosses a replaced position and copies share NO
        shingles (inverted-index postings split per copy);
      - embeddings: a deterministic per-(copy,vec,dim) jitter of ~10% of
        the value range decorrelates cosine neighborhoods across copies.
    """
    import numpy as np

    os.makedirs(out_dir, exist_ok=True)
    for name in FIXED:
        pq.write_table(
            pq.read_table(f"{SRC}/{name}.parquet"), f"{out_dir}/{name}.parquet"
        )
    rng_base = 1_000_003
    for name, strides in STRIDES.items():
        base = pq.read_table(f"{SRC}/{name}.parquet")
        copies = []
        for c in range(k):
            t = base
            for col, stride in strides.items():
                idx = t.column_names.index(col)
                shifted = pc.add(t.column(col), pa.scalar(c * stride, pa.int64()))
                t = t.set_column(idx, t.field(idx), shifted)
            if c > 0 and name == "documents":
                texts = t.column("text").to_pylist()
                new = []
                for ti, txt in enumerate(texts):
                    if txt is None:
                        new.append(None)
                        continue
                    toks = txt.split()
                    for j in range(0, len(toks), 3):
                        toks[j] = f"c{c}u{(ti * 31 + j) % 9973}"
                    new.append(" ".join(toks))
                idx = t.column_names.index("text")
                t = t.set_column(idx, t.field(idx), pa.array(new, pa.string()))
            if c > 0 and name == "embeddings":
                embs = t.column("embedding").to_pylist()
                arr = np.array(embs, dtype=np.float32)
                seeds = (
                    np.arange(arr.size, dtype=np.int64) * rng_base + c * 7919
                ) % 104729
                jitter = ((seeds % 2001) - 1000).astype(np.float32) / 4000.0
                arr = arr + jitter.reshape(arr.shape)
                idx = t.column_names.index("embedding")
                t = t.set_column(
                    idx,
                    t.field(idx),
                    pa.array([row.tolist() for row in arr], pa.list_(pa.float32())),
                )
            copies.append(t)
        merged = pa.concat_tables(copies)
        pq.write_table(merged, f"{out_dir}/{name}.parquet")
        print(f"{name}: {base.num_rows} x {k} = {merged.num_rows} (perturbed)")


if __name__ == "__main__":
    main()
