"""The benchmark workloads.

Each workload is a closed loop: one driver thread issues its steps one
after another, and each step is one call into a public function of a
package layer followed by one action. A workload

- writes its seeded inputs in :meth:`Workload.prepare` (untimed);
- lists its steps; the runner times ``call`` + ``act`` (step time)
  and, for a lazy step, ``call`` alone (plan time);
- restores mutable state before every pass in :meth:`Workload.reset`;
- checks each step's output in :meth:`Workload.check`, outside the
  timed region, returning an error message or ``None``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs, oracle


@dataclass
class Step:
    name: str                                  # "<layer>.<function>"
    call: Callable[[], Any]                    # the public call
    act: Callable[[Any], Any] | None = None    # the action; None when the call acts
    lazy: bool = True                          # call returns a DataFrame not yet run


@dataclass
class Workload:
    spark: Any
    tmp: str
    seed: int
    info: dict = field(default_factory=dict)   # input sizes and invariants
    io: dict = field(default_factory=dict)     # bytes/rows the current step wrote
    seen: dict = field(default_factory=dict)   # first-pass output digest per step
    expected: dict = field(default_factory=dict)  # recorded digest per step, for this seed

    name = ""
    nominal_pass_s = 1.0

    def prepare(self) -> None:
        raise NotImplementedError

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def reset(self) -> None:
        pass

    def check(self, step: Step, out: Any) -> str | None:
        return None

    def _same_as_before(self, step: Step, value) -> str | None:
        """Outputs must repeat on every pass; ``value`` is a digest or
        checksum of the step's output."""
        first = self.seen.setdefault(step.name, value)
        if value != first:
            return f"output {value} differs from the first pass ({first})"
        return None

    def digests(self) -> dict:
        return {k: str(v) for k, v in self.seen.items()}


EXPECTED_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")


def recorded_digests(workload: str, seed: int) -> dict[str, str]:
    """Per-step output digests an earlier run recorded for ``seed``;
    empty when none were. They held on 2 and on 4 cores alike."""
    with open(EXPECTED_DIGESTS) as fh:
        return json.load(fh).get(workload, {}).get(str(seed), {})


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _pandas(df):
    return df.toPandas()


def _count(df):
    return df.count()


# -- label_sync ---------------------------------------------------------


class LabelSync(Workload):
    """The connector workflow over ``Client`` + ``LocalTransport``."""

    name = "label_sync"
    nominal_pass_s = 5.0
    n_labels = 10_000
    n_rows = 10_000
    dataset = "ds"
    project = "proj"

    def prepare(self) -> None:
        from labelspark_spark import Client, LocalTransport

        base = os.path.join(self.tmp, "label_sync")
        self.info = inputs.label_sync_inputs(self.seed, base, self.n_labels, self.n_rows)
        self.platform = os.path.join(base, "platform")
        self.seed_spool = os.path.join(base, "spool")
        self.spool = os.path.join(self.platform, "datasets", self.dataset)
        self.parquet_out = os.path.join(base, "export_parquet")
        with open(os.path.join(self.platform, "onto-proj.json")) as fh:
            self.onto = fh.read()
        self.client = Client(LocalTransport(self.platform), self.spark)
        self.rows = self.spark.read.parquet(os.path.join(base, "rows.parquet"))
        self.expected_suffixed = {k + "///1" for k in self.info.pop("keys")}
        self.bronze = None

    def reset(self) -> None:
        shutil.rmtree(self.spool, ignore_errors=True)
        shutil.copytree(self.seed_spool, self.spool)
        shutil.rmtree(self.parquet_out, ignore_errors=True)
        with open(os.path.join(self.platform, "onto-proj.json"), "w") as fh:
            fh.write(self.onto)
        self._spool_files = set(os.listdir(self.spool))

    def _export(self):
        self.bronze = self.client.export_to_table(self.project)
        return self.bronze

    def steps(self) -> list[Step]:
        from pyspark.sql import functions as F

        c = self.client
        rows = self.rows
        upload = dict(row_data_col="row_data", global_key_col="key")

        def checksum(df):
            # row count and an order-insensitive sum of row hashes,
            # kept in 31 bits so the ANSI sum cannot overflow
            h = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]), F.lit(2**31 - 1))
            return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())

        return [
            Step("client.export_to_table", self._export, _count),
            Step("client.bronze_to_silver", lambda: c.bronze_to_silver(
                self.bronze, key_cols=["DataRowID"], objects_col="Label.objects",
                classifications_col="Label.classifications",
                object_titles=inputs.OBJECT_TITLES, question_titles=list(inputs.QUESTIONS),
            ), checksum),
            Step("client.export_to_parquet_table", lambda: c.export_to_parquet_table(
                self.project, self.parquet_out, mode="overwrite")),
            Step("client.connect_spark_metadata", lambda: c.connect_spark_metadata(
                rows, self.project, key_cols=["key"])),
            Step("client.create_data_rows_from_table", lambda: c.create_data_rows_from_table(
                rows, self.dataset, skip_duplicates=True, **upload)),
            Step("client.upsert_data_rows_from_table", lambda: c.upsert_data_rows_from_table(
                rows, self.dataset, **upload)),
            Step("client.update_metadata", lambda: c.update_metadata(
                rows.select(F.col("key").alias("data_row_id"),
                            F.col("`metadata///enum///split`").alias("split")),
                self.project, key_col="data_row_id", value_col="split"), checksum),
            Step("client.get_videoframe_annotations",
                 lambda: c.get_videoframe_annotations(self.bronze), _count),
        ]

    def _new_spool_rows(self) -> list[dict]:
        now = set(os.listdir(self.spool))
        added = sorted(now - self._spool_files)
        self._spool_files = now
        rows, size = [], 0
        for f in added:
            path = os.path.join(self.spool, f)
            size += os.path.getsize(path)
            with open(path) as fh:
                rows.extend(json.loads(line) for line in fh if line.strip())
        self.io = {"transport.batches": len(added), "transport.rows_posted": len(rows),
                   "transport.bytes": size}
        return rows

    def check(self, step: Step, out: Any) -> str | None:
        i = self.info
        name = step.name.split(".")[-1]
        if name == "export_to_table" and out != i["n_labels"]:
            return f"bronze rows {out} != {i['n_labels']} labels"
        if name == "bronze_to_silver":
            if out[0] != i["n_labels"]:
                return f"silver rows {out[0]} != {i['n_labels']} labels"
            return self._same_as_before(step, out)
        if name == "export_to_parquet_table":
            self.io = {"sources.writers.write_parquet.bytes": _dir_bytes(self.parquet_out)}
            back = self.spark.read.parquet(self.parquet_out).count()
            if back != i["n_labels"]:
                return f"parquet read-back rows {back} != {i['n_labels']}"
        if name == "connect_spark_metadata":
            with open(os.path.join(self.platform, "onto-proj.json")) as fh:
                have = {f["name"] for f in json.load(fh)}
            if not {"split", "source", "score"} <= have:
                return f"ontology after sync lacks fields: {sorted(have)}"
        if name == "create_data_rows_from_table":
            posted = self._new_spool_rows()
            want = i["n_rows"] - i["collisions"]
            if len(posted) != want:
                return f"skip step posted {len(posted)} rows, expected {want}"
        if name == "upsert_data_rows_from_table":
            keys = {r["data_row"]["global_key"] for r in self._new_spool_rows()}
            if keys != self.expected_suffixed:
                return (f"suffix step minted {len(keys)} keys; "
                        f"{len(keys ^ self.expected_suffixed)} differ from key///1")
        if name == "update_metadata":
            if out[0] != i["n_rows"]:
                return f"metadata sync rows {out[0]} != {i['n_rows']}"
            return self._same_as_before(step, out)
        if name == "get_videoframe_annotations" and out != i["n_frames"]:
            return f"frame rows {out} != {i['n_frames']}"
        return None


# -- curation_10x_sf0.01 ------------------------------------------------


class Curation10x(Workload):
    """Dedup, similarity, pixel-decode and text-quality operators over a
    ten-shard corpus.

    Each shard is the size of the sf0.01 corpus (500 documents and 500
    vectors), so the ten hold 5,000 of each: ten times sf0.01, the
    volume of sf0.1. Ten shards of sf0.1 size took 63-70 s per warm
    pass and 231 s per run on 4 cores, past the 180 s a run may take.

    Outputs must repeat on every pass and, for a seed recorded in
    ``expected_digests.json``, match the recorded digests."""

    name = "curation_10x_sf0.01"
    nominal_pass_s = 8.0
    shards = 10
    docs_per_shard = 500
    vecs_per_shard = 500
    imgs_per_shard = 40
    queries_per_shard = 5

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        d = os.path.join(self.tmp, "curation")
        self.info = inputs.curation_corpus(self.seed, d, self.shards, self.docs_per_shard,
                                           self.vecs_per_shard, self.imgs_per_shard)
        read = self.spark.read.parquet
        self.docs = read(os.path.join(d, "documents"))
        self.emb = read(os.path.join(d, "embeddings"))
        self.imgs = read(os.path.join(d, "images"))
        self.queries = self.emb.filter(
            F.col("vec_id") % 10_000_000 < self.queries_per_shard
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        self.books = self._codebooks(os.path.join(d, "embeddings"))
        self.cents = self.pairs = None
        self.expected = recorded_digests(self.name, self.seed)

    def _codebooks(self, emb_dir: str, m: int = 8, ksub: int = 16) -> np.ndarray:
        """PQ codebooks sampled from the corpus: ``ksub`` seeded rows of
        each ``dim/m``-wide subspace, as (m, ksub, dsub) float64."""
        col = pq.read_table(emb_dir).column("embedding").combine_chunks()
        mat = col.values.to_numpy().reshape(len(col), -1).astype(np.float64)
        rng = inputs.rng_for(self.seed, "codebooks")
        rows = mat[rng.choice(len(mat), size=ksub, replace=False)]
        return rows.reshape(ksub, m, -1).transpose(1, 0, 2).copy()

    def steps(self) -> list[Step]:
        from pyspark.sql import functions as F

        from labelspark_spark.functions import text as T
        from labelspark_spark.operators import dedup as dd
        from labelspark_spark.operators import multimodal as mm
        from labelspark_spark.operators import similarity as sim

        docs, emb = self.docs, self.emb

        def fit():
            self.cents = sim.kmeans_fit(emb, k=16, dim=64, max_iters=3)
            return self.cents

        return [
            Step("operators.dedup.minhash_lsh_pairs",
                 lambda: dd.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.2), _pandas),
            Step("operators.dedup.simhash_pairs",
                 lambda: dd.simhash_pairs(docs, "text", "doc_id", max_hamming=3), _pandas),
            Step("operators.dedup.ngram_jaccard_pairs",
                 lambda: dd.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.2,
                                                shingle_words=3), _pandas),
            Step("operators.dedup.connected_components",
                 lambda: dd.connected_components(self.pairs), _pandas),
            Step("operators.dedup.embedding_dup_pairs_ivf",
                 lambda: dd.embedding_dup_pairs_ivf(emb, "embedding", "vec_id", threshold=0.4,
                                                    k=16, nprobe=4), _pandas),
            Step("operators.similarity.kmeans_fit", fit, _pandas),
            Step("operators.similarity.ivf_build",
                 lambda: sim.ivf_build(emb, self.cents, table="perfbench_ivf", num_buckets=8)),
            Step("operators.similarity.ivf_probe",
                 lambda: sim.ivf_probe(self.queries, self.cents, table="perfbench_ivf", k=10,
                                       nprobe=4), _pandas),
            Step("operators.similarity.pq_topk",
                 lambda: sim.pq_topk(emb, self.queries, self.books, k=10, rerank=100,
                                     query_id_col="query_id"), _pandas),
            Step("operators.multimodal.decode_pixels",
                 lambda: mm.decode_pixels(self.imgs, content_col="content", id_col="media_id"),
                 _pandas),
            Step("functions.text.quality_score", lambda: docs.select(
                "doc_id",
                T.token_count(F.col("text")).alias("n_tok"),
                F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
                F.round(T.stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
                F.round(T.quality_score(F.col("text")), 6).alias("quality"),
            ), _pandas),
        ]

    def check(self, step: Step, out: Any) -> str | None:
        fn = step.name.split(".")[-1]
        if fn == "ivf_build":
            n = self.spark.table("perfbench_ivf").count()
            self.io = {"rows": n}
            want = self.info["rows_by_table"]["embeddings"]
            return None if n == want else f"IVF index holds {n} rows, expected {want}"
        self.io = {"rows": len(out)}
        if fn == "ngram_jaccard_pairs":
            # the components step runs on the materialised pair list
            self.pairs = self.spark.createDataFrame(out[["id_a", "id_b"]])
        if fn in ("minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash_pairs") and not len(out):
            return "no near-duplicate pairs found although the corpus plants them"
        got = oracle.frame_digest(out)
        want = self.expected.get(step.name)
        if want is not None and got != want:
            return f"output digest {got} != {want} recorded for this seed"
        return self._same_as_before(step, got)


# -- stream_replay ------------------------------------------------------


class StreamReplay(Workload):
    """Structured-streaming replays of the events table, called through
    ``REGISTRY``: micro-batches, state stores and checkpoint writes.
    The seed sets the query order. Every output must hash-match its
    DuckDB oracle (evaluated once per run) and the first pass.

    ``statestore_rocksdb`` is left out: its time varied 1.9-3.7 s from
    one process to the next at the same input (RocksDB commits on the
    local disk), which alone made this workload's pass time spread 13%.
    Pass time is per-batch bound, so events run at sf0.01 (6.0 s per
    pass there vs 6.8 s at sf0.1, measured on 4 cores)."""

    name = "stream_replay"
    nominal_pass_s = 2.5
    sf = 0.01
    query_names = (
        "events_stream_restart", "events_stream_semi_join", "events_stream_file_sink",
        "events_stream_session", "events_stream_dedup_watermark",
    )

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.tmp, "sf")
        self.info = inputs.write_tables({"events": inputs.events(self.seed, self.sf)}, self.sf_dir)
        order = inputs.rng_for(self.seed, "query-order").permutation(len(self.query_names))
        self.order = [self.query_names[i] for i in order]
        self.oracle: dict[str, str] | None = None
        # replays that choose their own checkpoint or sink directory
        # make it under the temp dir; it is counted, then removed, after
        # each step (temporary checkpoints Spark removes itself at query
        # stop are not counted)
        self.scratch = tempfile.gettempdir()
        self.keep = set(os.listdir(self.scratch))

    def steps(self) -> list[Step]:
        from labelspark_spark.queries import REGISTRY

        # a replay runs its stream inside the call
        return [Step(f"queries.{q}", lambda fn=REGISTRY[q][0]: fn(self.spark, self.sf_dir), _pandas,
                     lazy=False) for q in self.order]

    def check(self, step: Step, out: Any) -> str | None:
        from labelspark_spark.queries import REGISTRY

        made = [os.path.join(self.scratch, f) for f in os.listdir(self.scratch)
                if f not in self.keep]
        self.io = {"rows": len(out),
                   "streaming.checkpoint.bytes": sum(_dir_bytes(p) for p in made)}
        for p in made:
            shutil.rmtree(p, ignore_errors=True)
        if self.oracle is None:
            sqls = {q: REGISTRY[q][1] for q in self.query_names if REGISTRY[q][1]}
            self.oracle = oracle.duckdb_digests(self.sf_dir, ["events"], sqls)
        want = self.oracle.get(step.name.split(".", 1)[1])
        got = oracle.frame_digest(out)
        if want is not None and got != want:
            return f"digest {got} != DuckDB oracle {want}"
        return self._same_as_before(step, got)


WORKLOADS = {w.name: w for w in (LabelSync, Curation10x, StreamReplay)}
