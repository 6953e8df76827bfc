#!/usr/bin/env python
"""Deterministic scale-up generator: replicate the sf0.1 testdata K times
(default 10 -> "sf1") with consistent key offsets, for scale-regression
runs and scripts/measure_graph_ann_recall.py (recall on clustered data).

Replication is the same recipe as the round-9 one-off sf1 datapoint
(BASELINE.md "Round 9"): copy i of each table shifts every key column by
i * stride(table), where stride = max_key - min_key + 1 of the SOURCE
table, so keys stay dense and every FK (lineitem->orders/part/supplier,
orders->customer, events.user_id->customer) lands on the matching copy.
nation/region are fixed dimensions and are NOT replicated. Documented
caveat (unchanged from r9): documents/embeddings texts and vectors are
cloned verbatim, so every doc gains K-1 exact clones — dedup-family
outputs are DENSER than a true sfK corpus; dedup ratios measured on this
data are upper bounds.

Pure DuckDB (no Spark session): one COPY ... TO parquet per table.
Usage: python scripts/gen_scale.py [out_dir] [factor] [src_dir] [--mutate]
  defaults: /tmp/sf1 10 /root/testdata/sf0.1

``--mutate`` — TRUE-CORPUS emulation for the content tables (the sf10
tier, VERDICT r10 item 7): verbatim clones make every dedup-family cost
quadratic in the copy factor BY CONSTRUCTION (each shingle's document
frequency is exactly K-x, so the postings join's sum C(df,2) term grows
~K² — measured 109x at K=10, SCALING.md), which says nothing about the
engine. A real K-x corpus brings NEW content: df stays ~constant and
the same term grows ~K. Mutation reproduces that:
  - documents: copy 0 keeps the original text; copy i>0 suffixes every
    token with ``_ci`` — shingle SETS are disjoint across copies, so
    vocabulary grows ~K and per-shingle df is copy-invariant.
  - embeddings: copy i rotates the vector by ``i mod dim`` positions
    and negates it for i >= dim — rotated/negated copies are not
    near-dups (cosine ~0 / -1), while each copy's internal cluster
    structure is preserved (labels rotate consistently), exactly like
    K independent shards of one corpus.
Key-offset FK consistency is identical to the unmutated mode.

``--clusters`` — planted-STRUCTURE embeddings (VERDICT r14 item 4): the
testdata embeddings are provably isotropic (same-label and cross-label
cosines identically distributed, SCALING.md r14), so no sub-linear ANN
index can beat brute force on them and routed-vs-flat comparisons tie
by construction. This flag REPLACES the generated embeddings table with
a same-row-count, same-schema corpus that HAS cluster geometry: 64
seeded unit-norm Gaussian centers, each vector = unit-normalized
(center + sigma*noise) with sigma=0.35 (intra-cluster cosine ~0.9,
cross-cluster ~N(0, 1/64)), label = cluster id. Deterministic (numpy
PCG64 seed 0); vec_ids stay dense 0..N-1 so FK-free consumers are
unaffected. This is the corpus on which the SPANN routing claim is
testable — see scripts/measure_graph_ann_recall.py --routed.
"""

from __future__ import annotations

import os
import sys

import duckdb

# key columns to offset, per table; stride source is the FIRST column's
# own table for PK columns, but FK columns use the referenced table's
# stride — expressed as (column, stride_table).
KEYS: dict[str, list[tuple[str, str]]] = {
    "region": [],
    "nation": [],
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [
        ("l_orderkey", "orders"),
        ("l_partkey", "part"),
        ("l_suppkey", "supplier"),
    ],
    "events": [("event_id", "events"), ("user_id", "customer")],
    "documents": [("doc_id", "documents")],
    "embeddings": [("vec_id", "embeddings")],
}
# stride key column per table (the PK used to measure density)
PK = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _mutated(col: str, table: str, dim: int = 64) -> str:
    """SQL for a content column under --mutate (see module docstring)."""
    if table == "documents" and col == "text":
        return (
            "CASE WHEN _copy = 0 THEN text ELSE "
            "regexp_replace(text, '(\\S+)', '\\1_c' || _copy, 'g') "
            f"END AS {col}"
        )
    if table == "embeddings" and col == "embedding":
        # rotate by (_copy mod dim); negate the second dim-cycle so a
        # rotation collision (copies i and i+dim) is anti-parallel
        # (cosine -1), never a verbatim clone
        rot = (
            f"CASE WHEN _copy % {dim} = 0 THEN embedding "
            f"ELSE list_concat(embedding[(_copy % {dim}) + 1:], "
            f"embedding[1:(_copy % {dim})]) END"
        )
        return (
            f"CAST(CASE WHEN _copy < {dim} THEN {rot} "
            f"ELSE list_transform({rot}, x -> -x) END "
            f"AS FLOAT[]) AS {col}"
        )
    return col


def plant_clustered_embeddings(
    out_dir: str,
    n: int,
    dim: int = 64,
    n_clusters: int = 64,
    sigma: float = 0.35,
    seed: int = 0,
) -> None:
    """Overwrite ``out_dir/embeddings.parquet`` with a planted-cluster
    corpus (see module docstring, --clusters)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n, dtype=np.int64) % n_clusters
    # sigma is the TOTAL noise-to-signal norm ratio: divide the
    # per-coordinate draw by sqrt(dim) so |noise| ~ sigma regardless of
    # dimension (a raw sigma per coordinate would give |noise| =
    # sigma*sqrt(dim) ~ 2.8 at dim 64, drowning the unit center and
    # reproducing the isotropy this generator exists to remove);
    # intra-cluster cosine ~ 1/(1+sigma^2) ~ 0.89 at sigma=0.35
    vecs = centers[labels] + (sigma / dim**0.5) * rng.standard_normal(
        (n, dim)
    )
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    # bounded row groups: pyarrow's default writes ONE row group for the
    # whole table, and Spark cannot split a row group at scan time — a
    # 1M-row corpus then lands in a single task no matter how many
    # "partitions" the scan reports (31 of 32 empty; measured: every
    # Arrow kernel in the ANN build ran single-core, ~20 min/stage).
    pq.write_table(
        tbl, f"{out_dir}/embeddings.parquet", row_group_size=65536
    )


def generate(
    out_dir: str,
    factor: int,
    src_dir: str,
    mutate: bool = False,
    clusters: bool = False,
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    strides = {
        t: con.sql(
            f"SELECT max({pk}) - min({pk}) + 1 "
            f"FROM '{src_dir}/{t}.parquet'"
        ).fetchone()[0]
        for t, pk in PK.items()
    }
    for table, keys in KEYS.items():
        src = f"{src_dir}/{table}.parquet"
        dst = f"{out_dir}/{table}.parquet"
        if not keys:  # fixed dims
            con.sql(f"COPY (SELECT * FROM '{src}') TO '{dst}' (FORMAT PARQUET)")
            continue
        cols = [c[0] for c in con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        offsets = {col: strides[st] for col, st in keys}
        select = ", ".join(
            f"({c} + _copy * {offsets[c]})::BIGINT AS {c}"
            if c in offsets
            else (_mutated(c, table) if mutate else c)
            for c in cols
        )
        con.sql(
            f"COPY (SELECT {select} FROM '{src}' "
            f"CROSS JOIN (SELECT unnest(range({factor})) AS _copy) "
            f"ORDER BY _copy) TO '{dst}' (FORMAT PARQUET)"
        )
    con.close()
    if clusters:
        n = duckdb.sql(
            f"SELECT count(*) FROM '{src_dir}/embeddings.parquet'"
        ).fetchone()[0]
        plant_clustered_embeddings(out_dir, n * factor)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a not in ("--mutate", "--clusters")]
    mutate = "--mutate" in sys.argv[1:]
    clusters = "--clusters" in sys.argv[1:]
    out = args[0] if len(args) > 0 else "/tmp/sf1"
    k = int(args[1]) if len(args) > 1 else 10
    src = args[2] if len(args) > 2 else "/root/testdata/sf0.1"
    generate(out, k, src, mutate=mutate, clusters=clusters)
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/lineitem.parquet'").fetchone()[0]
    print(f"generated {out} (factor {k}, lineitem rows {n})")
