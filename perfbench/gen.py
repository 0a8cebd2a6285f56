"""Seeded input generator for the benchmark.

Everything here is numpy + pyarrow and depends only on the seed, so the
same seed gives byte-identical inputs.  The program under test receives
only the Parquet files written here; the arrays stay with the benchmark
as the ground truth its output checks compare against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reference size stack (cli.py default config; SURVEY §2.11).
SIZES = [524288, 32768, 1024]

U64 = 2**64


def _decimal38(lo: np.ndarray, hi: np.ndarray) -> pa.Array:
    """decimal128(38, 0) array of ``hi * 2**64 + lo`` built from raw
    little-endian limbs (no per-value Python objects)."""
    limbs = np.empty((len(lo), 2), dtype="<u8")
    limbs[:, 0] = lo
    limbs[:, 1] = hi
    return pa.Array.from_buffers(
        pa.decimal128(38, 0), len(lo), [None, pa.py_buffer(limbs.tobytes())]
    )


@dataclass
class EntitySource:
    """A versioned entity table staged as block-sorted Parquet files."""

    path: str
    blocks: np.ndarray  # sorted block number of every row
    price: np.ndarray  # the ``price`` column, row-aligned with ``blocks``

    def rows_in(self, lo: int, hi: int) -> int:
        """Rows whose block lies in [lo, hi)."""
        b = self.blocks
        return int(np.searchsorted(b, hi) - np.searchsorted(b, lo))


def entity_source(
    out_dir: str,
    seed: int,
    n_blocks: int,
    density: float,
    n_files: int = 8,
    row_groups_per_file: int = 2,
) -> EntitySource:
    """Write ``n_blocks * density`` entity versions over blocks
    ``[0, n_blocks)``, sorted by block and split into ``n_files`` files of
    ``row_groups_per_file`` row groups each, like a staged export whose
    scan parallelises per row group.

    Columns: ``entity_id``, ``vid``, ``_block_number``, two uint256
    carriers ``amount`` and ``supply`` as decimal(38,0) (values above
    2**64 included), and ``price`` whose values fit uint32.
    """
    rng = np.random.default_rng([seed, 1])
    n = int(n_blocks * density)
    blocks = np.sort(rng.integers(0, n_blocks, n, dtype=np.int64))
    amount = _decimal38(
        rng.integers(0, 2**63, n, dtype=np.uint64),
        rng.integers(0, 2**40, n, dtype=np.uint64),
    )
    # about a third of the supplies exceed uint64 and are clamped
    supply_hi = np.where(
        rng.random(n) < 0.3, rng.integers(1, 2**20, n, dtype=np.uint64), 0
    ).astype(np.uint64)
    supply = _decimal38(rng.integers(0, 2**63, n, dtype=np.uint64), supply_hi)
    price = rng.integers(0, 2**32, n, dtype=np.int64)
    table = pa.table(
        {
            "entity_id": rng.integers(0, 50_000, n, dtype=np.int64),
            "vid": np.arange(n, dtype=np.int64),
            "_block_number": blocks,
            "amount": amount,
            "supply": supply,
            "price": price,
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // row_groups_per_file))
        pq.write_table(
            part, os.path.join(out_dir, f"part-{i:03d}.parquet"), row_group_size=rg
        )
    return EntitySource(out_dir, blocks, price)


def extraction_config(name: str) -> dict:
    """Dataset config for the entity table: two uint256 numeric columns,
    a downscale mapping, a clamp+validity mapping and a strict-range
    mapping."""
    return {
        "name": name,
        "version": "0.0.1",
        "subgraph": "QmBench",
        "tables": {
            "transfers": {
                "partition_sizes": list(SIZES),
                "numeric_columns": ["amount", "supply"],
                "column_mappings": {
                    "amount": {
                        "amount_eth": {"type": "float64", "downscale": 10**18}
                    },
                    "supply": {
                        "supply_u64": {
                            "type": "uint64",
                            "max_value": U64 - 1,
                            "default": 0,
                            "validity_column": "supply_fits",
                        }
                    },
                    "price": {"price_u32": {"type": "uint32"}},
                },
                "drop_columns": ["vid"],
            }
        },
    }


@dataclass
class Documents:
    path: str
    planted: set[tuple[int, int]]  # (id_a, id_b), id_a < id_b


_WORDS = np.array(
    [f"w{i:04d}" for i in range(4000)], dtype=object
)


def documents(
    out_dir: str, seed: int, n_docs: int, n_clusters: int, words: int = 60
) -> Documents:
    """Random word documents plus ``n_clusters`` planted near-duplicate
    pairs (one word of ``words`` changed, Jaccard of 3-shingles well
    above 0.8).  Background documents share almost no shingles."""
    rng = np.random.default_rng([seed, 2])
    texts = [" ".join(rng.choice(_WORDS, words)) for _ in range(n_docs)]
    planted = set()
    ids = rng.permutation(n_docs)
    for c in range(n_clusters):
        a, b = int(ids[2 * c]), int(ids[2 * c + 1])
        toks = texts[a].split(" ")
        toks[int(rng.integers(0, words))] = "edit"
        texts[b] = " ".join(toks)
        planted.add((min(a, b), max(a, b)))
    table = pa.table(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "docs.parquet"), row_group_size=max(1, n_docs // 4))
    return Documents(out_dir, planted)


@dataclass
class Embeddings:
    path: str
    vectors: np.ndarray  # float32 [n, dim]
    planted: dict[int, int]  # query id -> its planted neighbour id
    n_queries: int


def embeddings(
    out_dir: str, seed: int, n: int, dim: int, n_queries: int
) -> Embeddings:
    """Gaussian embeddings; each of the first ``n_queries`` vectors gets
    one planted neighbour (a small perturbation of it) elsewhere in the
    corpus."""
    rng = np.random.default_rng([seed, 3])
    vec = rng.standard_normal((n, dim)).astype(np.float32)
    targets = rng.choice(np.arange(n_queries, n), n_queries, replace=False)
    planted = {}
    for q, t in enumerate(targets):
        vec[t] = vec[q] + 0.05 * rng.standard_normal(dim).astype(np.float32)
        planted[q] = int(t)
    table = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.reshape(-1)), dim
            ).cast(pa.list_(pa.float32())),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "emb.parquet"), row_group_size=max(1, n // 4))
    return Embeddings(out_dir, vec, planted, n_queries)
