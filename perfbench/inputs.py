"""Seeded input generators for the benchmark workloads.

Every generator draws from ``rng_for(seed, stream)`` and writes plain
files; the same seed gives byte-identical files. Nothing is read from
outside the output directory, so the package under test only ever sees
generated inputs.

The tables follow the shape of the synthetic ``events``/``documents``/
``embeddings`` tables the registry queries were written against: the
same columns and types, uniform keys, the same categorical domains, and
the 5% planted near-duplicate documents (``<text of another doc> dup``)
the dedup operators look for.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_AT_SF01 = 100_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_RATE = 0.05
EXACT_DUP_RATE = 0.002

_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream): adding a stream
    never shifts the values another stream draws."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write(table: pa.Table, path: str) -> int:
    # one row group, so the bytes depend only on the values
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1), compression="snappy")
    return os.path.getsize(path)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def events(seed: int, sf: float) -> pa.Table:
    """Click-stream events over 30 days, ordered by ``ts`` like the
    source table (event ids increase with time)."""
    rng = rng_for(seed, "events")
    n = max(1, int(round(EVENTS_AT_SF01 * sf / 0.1)))
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def documents(rng: np.random.Generator, n: int, first_id: int = 0, tag: str = "") -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, 10-100 words,
    with planted near-duplicates (another doc's text plus `` dup``) and
    a few exact copies. ``tag`` suffixes every word so that documents
    of different shards never share shingles."""
    vocab = np.array([w + tag for w in VOCAB])
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    # copies are taken from documents that are not copies themselves
    order = rng.permutation(n)
    n_near, n_exact = int(n * DUP_RATE), max(1, int(n * EXACT_DUP_RATE))
    originals = order[n_near + n_exact:]
    for i in order[:n_near]:
        texts[i] = texts[rng.choice(originals)] + " dup" + tag
    for i in order[n_near:n_near + n_exact]:
        texts[i] = texts[rng.choice(originals)]
    ids = np.arange(first_id, first_id + n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, first_id: int = 0, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a 10-class label."""
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.reshape(-1), pa.float32())
    vecs = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": vecs,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal 8-bit grayscale PNG (filter 0 on every scanline)."""

    def chunk(kind: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + kind + data
                + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF))

    raw = b"".join(b"\x00" + pixels[r * width:(r + 1) * width] for r in range(height))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def images(rng: np.random.Generator, n: int, first_id: int = 0, side: int = 32) -> pa.Table:
    px = rng.integers(0, 256, (n, side * side), dtype=np.uint8)
    return pa.table({
        "media_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "content": pa.array([png_gray(p.tobytes(), side, side) for p in px], pa.binary()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict:
    """One ``<name>.parquet`` per table; returns rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rows = bytes_ = 0
    for name, t in tables.items():
        bytes_ += _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows += t.num_rows
    return {"rows": rows, "bytes": bytes_}


def curation_corpus(seed: int, out_dir: str, shards: int, docs: int, vecs: int, imgs: int) -> dict:
    """The 10x tier: ``shards`` disjoint shards, each written as its own
    file the way a large corpus is. Keys are offset per shard and words
    are shard-tagged, so shards add rows without widening posting lists
    or handing documents exact twins in other shards."""
    rows_by_table = {"documents": 0, "embeddings": 0, "images": 0}
    bytes_ = 0
    for name in rows_by_table:
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
    for s in range(shards):
        rng = rng_for(seed, f"curation-{s}")
        parts = {
            "documents": documents(rng, docs, s * 10_000_000, "" if s == 0 else f"~{s}"),
            "embeddings": embeddings(rng, vecs, s * 10_000_000),
            "images": images(rng, imgs, s * 10_000_000),
        }
        for name, t in parts.items():
            bytes_ += _write(t, os.path.join(out_dir, name, f"part-{s:03d}.parquet"))
            rows_by_table[name] += t.num_rows
    return {"rows": sum(rows_by_table.values()), "bytes": bytes_, "rows_by_table": rows_by_table}


# -- label_sync ---------------------------------------------------------

OBJECT_TITLES = ["car", "tree", "person", "sign"]
QUESTIONS = {"weather": ["sunny", "cloudy", "rain"], "time": ["day", "night"]}
SPLITS = ["train", "valid", "test"]


def label_sync_inputs(seed: int, root: str, n_labels: int, n_rows: int,
                      collide: float = 0.2, video_frac: float = 0.05) -> dict:
    """Platform state and upload table for the connector workload.

    Writes under ``root``:
    - ``platform/``: the LocalTransport state — the label export (nested
      objects, classifications, frame URLs on a video fraction), frames
      payloads, a metadata snapshot and a partial metadata ontology;
    - ``spool/``: the pre-existing posted rows of the target dataset, in
      which a ``collide`` fraction of the upload table's keys already
      exist;
    - ``rows.parquet``: the data-row table with ``metadata///``,
      ``attachment///`` and ``annotation///`` columns.

    Returns the sizes and the expected invariants the workload checks.
    """
    rng = rng_for(seed, "label_sync")
    platform = os.path.join(root, "platform")
    os.makedirs(os.path.join(platform, "frames"), exist_ok=True)
    labels, n_frames = [], 0
    frames_dir = os.path.join(platform, "frames")
    for i in range(n_labels):
        objs = [{"title": OBJECT_TITLES[t], "value": OBJECT_TITLES[t],
                 "bbox": {"top": int(a), "left": int(b), "height": 10, "width": 10}}
                for t, a, b in zip(rng.integers(0, 4, int(rng.integers(0, 6))),
                                   rng.integers(0, 500, 6), rng.integers(0, 500, 6))]
        cls = [{"title": q, "answer": opts[int(rng.integers(0, len(opts)))]}
               for q, opts in QUESTIONS.items() if rng.random() < 0.8]
        label = {"objects": objs, "classifications": cls, "frames": None}
        if rng.random() < video_frac:
            url = f"http://frames/{seed}/{i}"
            label["frames"] = url
            lines = []
            for f in range(int(rng.integers(1, 9))):
                fo = [{"title": OBJECT_TITLES[int(t)]} for t in rng.integers(0, 4, int(rng.integers(0, 4)))]
                lines.append(json.dumps({"frameNumber": f, "objects": fo, "classifications": [
                    {"title": "weather", "answer": QUESTIONS["weather"][int(rng.integers(0, 3))]}]}))
                n_frames += 1
            with open(os.path.join(frames_dir, hashlib.md5(url.encode()).hexdigest()), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        labels.append({
            "DataRowID": f"dr-{i}",
            "External ID": f"img-{i}.jpg",
            "Agreement": str(int(rng.integers(0, 101))),
            "Created At": f"2024-{1 + i % 12:02d}-{1 + i % 28:02d}T00:00:00Z",
            "Label": label,
        })
    with open(os.path.join(platform, "labels-proj.json"), "w") as fh:
        json.dump(labels, fh)

    keys = [f"gk-{seed}-{i}" for i in range(n_rows)]
    split = [SPLITS[j] for j in rng.integers(0, 3, n_rows)]
    with open(os.path.join(platform, "meta-proj.json"), "w") as fh:
        json.dump([{"data_row_id": keys[i], "split": SPLITS[int(rng.integers(0, 3))]}
                   for i in np.flatnonzero(rng.random(n_rows) < 0.5)], fh)
    with open(os.path.join(platform, "onto-proj.json"), "w") as fh:
        json.dump([{"schema_id": "schema/split", "name": "split", "kind": "enum",
                    "options": [{"schema_id": "schema/split/train", "name": "train"}]}], fh)

    table = pa.table({
        "row_data": pa.array([f"https://img.example/{seed}/{i}.jpg" for i in range(n_rows)]),
        "key": pa.array(keys),
        "metadata///enum///split": pa.array(split),
        "metadata///string///source": pa.array([f"cam-{int(c)}" for c in rng.integers(0, 50, n_rows)]),
        "metadata///number///score": pa.array(np.round(rng.random(n_rows), 3)),
        "attachment///TEXT///note": pa.array([f"note {i}" if i % 3 == 0 else None for i in range(n_rows)]),
        "annotation///bbox///boxes": pa.array(
            [f"[[[{int(a)}, {int(b)}, 10, 10], []]]" for a, b in rng.integers(0, 500, (n_rows, 2))]),
    })
    rows_bytes = _write(table, os.path.join(root, "rows.parquet"))

    collide_idx = np.flatnonzero(rng.random(n_rows) < collide)
    spool = os.path.join(root, "spool")
    os.makedirs(spool, exist_ok=True)
    pre = [keys[i] for i in collide_idx] + [f"old-{seed}-{i}" for i in range(n_rows // 10)]
    with open(os.path.join(spool, "batch-seed.ndjson"), "w") as fh:
        for k in pre:
            fh.write(json.dumps({"data_row": {"row_data": f"https://old/{k}.jpg", "global_key": k},
                                 "dataset_id": "ds"}) + "\n")
    input_bytes = rows_bytes + sum(
        os.path.getsize(os.path.join(d, f))
        for d in (platform, frames_dir, spool) for f in os.listdir(d)
        if os.path.isfile(os.path.join(d, f)))
    return {
        "rows": n_labels + n_rows + len(pre) + n_frames,
        "bytes": input_bytes,
        "n_labels": n_labels,
        "n_rows": n_rows,
        "n_frames": n_frames,
        "n_video": sum(1 for lb in labels if lb["Label"]["frames"]),
        "spool_pre": len(pre),
        "collisions": len(collide_idx),
        "keys": keys,
    }
