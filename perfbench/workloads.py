"""The benchmark's workloads.

Each workload builds its inputs from the seed, and any pre-seeded
dataset state, in ``setup``; then ``op`` runs one operation through the
library's public entry points and ``check`` verifies its output against
the generator's own arrays.  ``op`` returns what ``check`` needs; only
``op`` is timed.  Operations run in whole rounds of the workload's
``ROUND`` of operation kinds, which takes about ``ROUND_S`` seconds on
a 4-vCPU VM; ``has_round`` says whether another round fits the
workload's inputs.  The untimed warm-up operations have the
negative indices in ``WARMUP``.

``probe`` records spans and counts: a no-op in untraced rounds, the
tracer in traced rounds.
"""

from __future__ import annotations

import contextlib
import os
import posixpath
import shutil

import yaml

import gen

TABLE = "transfers"


class NoProbe:
    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, key: str, n: float = 1) -> None:
        pass


class CheckFailed(Exception):
    pass


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _dir_parquet_bytes(table_dir: str) -> int:
    """Bytes of every data file under the table directory (the
    ``_metadata`` manifest itself excluded)."""
    total = 0
    for root, _, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


class Extraction:
    """Rounds of four incremental runs and one backfill.

    ``incremental``: one dataset is committed in setup to 3/4 of its
    source's block span; each incremental run advances ``latest_block``
    by eight smallest partitions with the CLI-default spark sink, so
    every round of four crosses one 32768 boundary and re-coarsens.
    ``backfill``: a first extraction of a small source into a fresh
    directory with the arrow sink.
    """

    name = "extraction"
    ROUND = ("incremental",) * 4 + ("backfill",)
    ROUND_S = 9.0
    # One of each kind: the pre-seeded commit has already warmed the
    # spark-sink path.
    WARMUP = (-5, -1)
    N_BLOCKS = 2**20
    DENSITY = 0.25
    STEP = 8 * gen.SIZES[-1]
    BACKFILL_BLOCKS = 2**16
    BACKFILL_DENSITY = 0.25

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.probe = NoProbe()
        self.config = gen.extraction_config(self.name)
        from subgraph_extractor_spark.sources import export_source

        export_source.register(spark)

    def kind(self, i: int) -> str:
        return self.ROUND[i % len(self.ROUND)]

    def setup(self):
        self.source = gen.entity_source(
            os.path.join(self.work, "src"), self.seed, self.N_BLOCKS, self.DENSITY
        )
        self.bf_source = gen.entity_source(
            os.path.join(self.work, "bf-src"), self.seed + 1_000_003,
            self.BACKFILL_BLOCKS, self.BACKFILL_DENSITY,
        )
        self.df = self.spark.read.parquet(self.source.path)
        self.bf_df = self.spark.read.parquet(self.bf_source.path)
        self.out = os.path.join(self.work, "out")
        self.prev = os.path.join(self.work, "prev")
        self.latest = self.start = self.N_BLOCKS // 4 * 3
        self.extract(self.out, self.df, self.latest, "spark")  # pre-seeded state
        self._keep_manifest()
        self.bf_latest = self.BACKFILL_BLOCKS - 1
        self.bf_last = None

    def has_round(self) -> bool:
        steps = self.ROUND.count("incremental")
        return self.latest + steps * self.STEP < self.N_BLOCKS

    def table_dir(self, out: str) -> str:
        c = self.config
        return posixpath.join(
            out, c["name"], c["version"], "data", f"subgraph={c['subgraph']}",
            f"table={TABLE}",
        )

    def extract(self, out: str, df, latest: int, sink: str) -> None:
        from subgraph_extractor_spark import extract

        extract.run_extraction(
            self.spark, self.config, {TABLE: df}, out, 0, latest, sink=sink
        )

    def _keep_manifest(self):
        os.makedirs(self.prev, exist_ok=True)
        shutil.copy(
            posixpath.join(self.table_dir(self.out), "_metadata"),
            posixpath.join(self.prev, "_metadata"),
        )

    def op(self, i: int):
        if self.kind(i) == "incremental":
            self.latest += self.STEP
            self.extract(self.out, self.df, self.latest, "spark")
            return self.out
        out = os.path.join(self.work, f"bf{i}")
        self.extract(out, self.bf_df, self.bf_latest, "arrow")
        return out

    def check(self, i: int, out: str):
        if self.kind(i) == "incremental":
            result = self.check_commit(out, self.source, self.latest, self.prev)
            self._keep_manifest()
            return result
        result = self.check_commit(out, self.bf_source, self.bf_latest, None)
        if self.bf_last is not None:
            shutil.rmtree(self.bf_last)
        self.bf_last = out
        # space_amp and bytes_per_row describe the incremental table only
        del result["referenced_bytes"], result["disk_bytes"]
        return result

    def check_commit(self, out: str, source, latest: int, prev_manifest: str | None):
        """The manifest's file set is exactly the planned cover, committed
        rows equal the generator's count over that cover, and the
        watermark is the requested latest block.  Returns the run's
        sizes: rows in the files it added, net rows it committed,
        committed rows, and the bytes of referenced and of all data files
        under the table directory."""
        from subgraph_extractor_spark.extract import partition_dir
        from subgraph_extractor_spark.plans.manifest import (
            manifest_diff,
            manifest_file_rows,
        )
        from subgraph_extractor_spark.plans.partitions import get_partitions

        td = self.table_dir(out)
        cover = get_partitions(0, latest, gen.SIZES)
        rows = manifest_file_rows(td)
        dirs = {posixpath.dirname(f) for f in rows}
        want = {posixpath.relpath(partition_dir(td, p), td) for p in cover}
        _expect(dirs == want, f"manifest partitions != cover at latest={latest}")
        _expect(len(rows) == len(cover), "more than one file per partition")
        committed = sum(rows.values())
        expected = source.rows_in(cover[0].start, cover[-1].end)
        _expect(committed == expected, f"committed {committed} != {expected} rows")
        c = self.config
        with open(posixpath.join(out, c["name"], c["version"], "latest.yaml")) as fh:
            wm = yaml.safe_load(fh)
        _expect(wm["latest_block"] == latest, "watermark != requested latest")
        if prev_manifest is None:
            added, delta = committed, committed
        else:
            diff = manifest_diff(prev_manifest, td)
            added, delta = sum(diff["added"].values()), diff["row_delta"]
        return {
            "rows_written": added,
            "rows": delta,
            "committed": committed,
            "referenced_bytes": sum(
                os.path.getsize(posixpath.join(td, f)) for f in rows
            ),
            "disk_bytes": _dir_parquet_bytes(td),
        }

    def finish(self) -> int:
        """Read the first block range the measured runs committed back
        through ``sources.export_source`` (manifest-stats file pruning)
        and compare its row count and price sum to numpy over the
        generator's arrays.  Returns the number of queries run."""
        from pyspark.sql import functions as F

        from subgraph_extractor_spark.plans.manifest import read_manifest_files

        lo = self.start + self.STEP
        hi = lo + gen.SIZES[-1]
        td = self.table_dir(self.out)
        self.probe.count("manifest_files", len(read_manifest_files(td)))
        df = (
            self.spark.read.format("subgraph_export")
            .load(td)
            .filter((F.col("_block_number") >= lo) & (F.col("_block_number") < hi))
        )
        with self.probe.span("sources.export_source.read"):
            row = df.agg(F.count("*").alias("n"), F.sum("price_u32").alias("s")).first()
        b = self.source.blocks
        sel = slice(b.searchsorted(lo), b.searchsorted(hi))
        _expect(row["n"] == sel.stop - sel.start, "export read row count")
        _expect(
            (row["s"] or 0) == int(self.source.price[sel].sum()),
            "export read price sum",
        )
        return 1


class NeardupSearch:
    """MinHash near-duplicate pairs and binary-quantized re-ranked
    search, alternating; no extraction code runs here."""

    name = "neardup_search"
    ROUND = ("minhash", "rerank")
    ROUND_S = 4.5
    # Two rounds: the first operations of a fresh JVM and Python workers
    # take several times as long as later ones.
    WARMUP = (-4, -3, -2, -1)
    N_DOCS = 1000
    N_CLUSTERS = 30
    N_VECS = 4000
    DIM = 64
    N_QUERIES = 40

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.probe = NoProbe()

    def setup(self):
        from pyspark.sql import functions as F

        self.docs = gen.documents(
            os.path.join(self.work, "docs"), self.seed, self.N_DOCS, self.N_CLUSTERS
        )
        self.emb = gen.embeddings(
            os.path.join(self.work, "emb"), self.seed, self.N_VECS, self.DIM,
            self.N_QUERIES,
        )
        self.doc_df = self.spark.read.parquet(self.docs.path)
        self.emb_df = self.spark.read.parquet(self.emb.path)
        self.queries = self.emb_df.filter(F.col("vec_id") < self.N_QUERIES)
        self.input_bytes = {
            "minhash": _dir_parquet_bytes(self.docs.path),
            "rerank": _dir_parquet_bytes(self.emb.path),
        }
        self.input_rows = {"minhash": self.N_DOCS, "rerank": self.N_VECS}

    def has_round(self) -> bool:
        return True

    def finish(self) -> int:
        """No export to read back."""
        return 0

    def kind(self, i: int) -> str:
        return self.ROUND[i % len(self.ROUND)]

    def op(self, i: int):
        from subgraph_extractor_spark.operators import dedup, similarity

        if self.kind(i) == "minhash":
            with self.probe.span("operators.dedup.minhash"):
                return dedup.minhash_dedup_pairs(
                    self.doc_df, "text", "doc_id", threshold=0.8
                ).collect()
        with self.probe.span("operators.similarity.rerank"):
            return similarity.hamming_topk_rerank(
                self.queries, self.emb_df, "embedding", "vec_id", self.DIM,
                k=5, expand=4,
            ).collect()

    def check(self, i: int, rows):
        kind = self.kind(i)
        result = {"rows": self.input_rows[kind], "input_bytes": self.input_bytes[kind]}
        if kind == "minhash":
            found = {(r["id_a"], r["id_b"]) for r in rows}
            _expect(self.docs.planted <= found, "planted near-duplicates missed")
            _expect(all(r["jaccard"] >= 0.8 for r in rows), "pair below threshold")
            result["pairs_out"] = len(rows)
        else:
            top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
            _expect(top1 == self.emb.planted, "planted neighbours not ranked first")
        return result


WORKLOADS = {w.name: w for w in (Extraction, NeardupSearch)}

