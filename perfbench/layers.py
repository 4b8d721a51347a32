"""Metric names, units and the per-layer fold of a traced run.

Layers are named after the package modules. Every per-layer metric is a
total per warm pass (or a median, where named so) and is reported on
every workload; a layer a workload does not exercise reads 0.

What each per-layer family should move, written down before measuring:

- ``session.*``: ``setup_s`` on every workload.
- ``spark.jobs/stages/tasks/driver_s``: ``pass_s`` and ``step_p50_s`` on
  stream_replay, which is bound by per-job and per-batch cost;
  ``driver_s`` also ``pass_s`` on label_sync, where the driver parses
  the label export.
- ``spark.task_cpu_s/task_run_s/gc_s/cpu_util``: ``rows_per_s`` on
  curation_10x_sf0.01.
- ``spark.shuffle_*_mb/spill_mb``: ``pass_s`` on curation_10x_sf0.01
  (candidate pairs) and label_sync (upsert windows).
- ``spark.failed_tasks``: the run's ``failed`` count.
- ``python_worker.*``: ``pass_s`` on curation_10x_sf0.01; about 0 on
  stream_replay, whose plans have no Python stage.
- ``client.*``, ``sources.readers.*``: ``pass_s`` and ``step_p90_s`` on
  label_sync.
- ``sources.writers.*``, ``transport.*``: ``io.write_bytes_per_input_byte``
  on label_sync.
- ``operators.*``, ``functions.*``: ``rows_per_s`` on
  curation_10x_sf0.01; the ``*_rows`` output counts repeat exactly for
  a seed.
- ``queries.*``, ``streaming.*``: ``pass_s`` on stream_replay; the
  checkpoint bytes also ``io.write_bytes_per_input_byte`` there.
- ``<layer>.plan_s``: ``spark.driver_s`` on label_sync and
  curation_10x_sf0.01. It sums the time until the public call returns its lazy DataFrame,
  over the steps whose action is separate: ``client.export_to_table``,
  ``bronze_to_silver``, ``update_metadata`` and
  ``get_videoframe_annotations``, and every ``operators.*`` and
  ``functions.*`` step but ``ivf_build``. The other client verbs and
  ``ivf_build`` write inside the call, and the streaming replays run
  their stream inside it, so they have no plan time apart. Jobs a
  call runs before it returns (the Lloyd iterations of ``kmeans_fit``)
  count as its plan time.
"""

from __future__ import annotations

import statistics
import time

from perfbench import trace
from perfbench.workloads import StreamReplay

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "step_p50_s": "s",
    "step_p90_s": "s",
    "rows_per_s": "rows/s",
    "driver_peak_rss_mb": "MB",
}

CLIENT_VERBS = (
    "export_to_table", "bronze_to_silver", "export_to_parquet_table",
    "connect_spark_metadata", "create_data_rows_from_table",
    "upsert_data_rows_from_table", "update_metadata", "get_videoframe_annotations",
)
OPERATOR_CALLS = (
    "operators.dedup.minhash_lsh_pairs", "operators.dedup.simhash_pairs",
    "operators.dedup.ngram_jaccard_pairs", "operators.dedup.connected_components",
    "operators.dedup.embedding_dup_pairs_ivf", "operators.similarity.kmeans_fit",
    "operators.similarity.ivf_build", "operators.similarity.ivf_probe",
    "operators.similarity.pq_topk", "operators.multimodal.decode_pixels",
    "functions.text.quality_score",
)


def _units() -> dict[str, str]:
    u = {"session.get_spark_session_s": "s"}
    u.update({f"spark.{k}": "count" for k in ("jobs", "stages", "tasks", "failed_tasks")})
    u.update({f"spark.{k}": "s" for k in ("driver_s", "task_cpu_s", "task_run_s", "gc_s")})
    u["spark.cpu_util"] = "ratio"
    u.update({f"spark.{k}": "MB" for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb")})
    u.update({f"python_worker.{k}_s": "s" for k in ("start", "init", "run")})
    u.update({f"python_worker.{k}_mb": "MB" for k in ("sent", "returned")})
    u.update({f"client.{v}_s": "s" for v in CLIENT_VERBS})
    u["sources.readers.json_literal_to_df_s"] = "s"
    u["sources.writers.write_parquet_mb"] = "MB"
    u.update({"transport.batches": "count", "transport.rows_posted": "count",
              "transport.mb": "MB"})
    for call in OPERATOR_CALLS:
        u[f"{call}_s"] = "s"
        u[f"{call}_rows"] = "count"
    u.update({f"queries.{q}_s": "s" for q in StreamReplay.query_names})
    u.update({"streaming.micro_batches": "count", "streaming.batch_p50_ms": "ms",
              "streaming.state_rows": "count", "streaming.checkpoint_mb": "MB"})
    u.update({f"{layer}.plan_s": "s" for layer in ("client", "operators", "functions")})
    u["io.write_bytes_per_input_byte"] = "ratio"
    u["bench.fail_frac"] = "ratio"
    u["trace.pass_s"] = "s"
    return u


UNITS = _units()
HIGHER_IS_BETTER = {"spark.cpu_util", *(f"{c}_rows" for c in OPERATOR_CALLS)}


def instrument() -> list[tuple[float, float]]:
    """Time ``json_literal_to_df`` where the client verbs call it;
    returns the list its (start_ms, seconds) spans are appended to."""
    import labelspark_spark.client as client

    spans: list[tuple[float, float]] = []
    inner = client.json_literal_to_df

    def timed(*a, **kw):
        start, t0 = time.time() * 1000.0, time.perf_counter()
        try:
            return inner(*a, **kw)
        finally:
            spans.append((start, time.perf_counter() - t0))

    client.json_literal_to_df = timed
    return spans


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python driver plus the Spark JVM."""
    return trace.vm_hwm_mb() + trace.vm_hwm_mb(jvm_pid)


def per_layer(passes: list[list[dict]], log_dir: str, session_s: float, e2e: dict,
              info: dict, fail_frac: float, spans: list[tuple[float, float]],
              cores: int) -> dict:
    """Per-layer metrics per warm pass from the step records, the
    event log and the ``json_literal_to_df`` spans."""
    warm = [r for p in passes[1:] for r in p]
    n = len(passes) - 1
    folded = trace.fold(trace.read_event_log(log_dir),
                        [(r["id"], r["start_ms"], r["end_ms"]) for r in warm])
    tot = {c: sum(f[c] for f in folded.values()) for c in trace.COUNTERS}
    busy_s = tot["stage_busy_ms"] / 1000.0
    m = dict.fromkeys(UNITS, 0.0)
    m["session.get_spark_session_s"] = session_s
    m.update({
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.failed_tasks": tot["failed_tasks"] / n,
        "spark.driver_s": (sum(r["wall_s"] for r in warm) - busy_s) / n,
        "spark.task_cpu_s": tot["task_cpu_ns"] / 1e9 / n,
        "spark.task_run_s": tot["task_run_ms"] / 1000.0 / n,
        "spark.gc_s": tot["gc_ms"] / 1000.0 / n,
        "spark.cpu_util": (tot["task_cpu_ns"] / 1e9) / (busy_s * cores) if busy_s else 0.0,
        "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / 1e6 / n,
        "spark.shuffle_read_mb": tot["shuffle_read_bytes"] / 1e6 / n,
        "spark.spill_mb": tot["spill_bytes"] / 1e6 / n,
        "python_worker.start_s": tot["py_start_ms"] / 1000.0 / n,
        "python_worker.init_s": tot["py_init_ms"] / 1000.0 / n,
        "python_worker.run_s": tot["py_run_ms"] / 1000.0 / n,
        "python_worker.sent_mb": tot["py_sent_bytes"] / 1e6 / n,
        "python_worker.returned_mb": tot["py_returned_bytes"] / 1e6 / n,
        "streaming.micro_batches": tot["micro_batches"] / n,
        "streaming.state_rows": sum(f["state_rows"] for f in folded.values()) / n,
    })
    batches = [b for f in folded.values() for b in f["batch_ms"]]
    m["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
    lo, hi = warm[0]["start_ms"], warm[-1]["end_ms"]
    m["sources.readers.json_literal_to_df_s"] = sum(d for t, d in spans if lo <= t <= hi) / n
    written = 0
    for r in warm:
        name, io = r["step"], r["io"]
        if f"{name}_s" in m:
            m[f"{name}_s"] += r["wall_s"] / n
        if f"{name}_rows" in m:
            m[f"{name}_rows"] += io.get("rows", 0) / n
        if r["plan_s"] is not None:
            m[f"{name.split('.')[0]}.plan_s"] += r["plan_s"] / n
        pq_bytes = io.get("sources.writers.write_parquet.bytes", 0)
        ck_bytes = io.get("streaming.checkpoint.bytes", 0)
        m["sources.writers.write_parquet_mb"] += pq_bytes / 1e6 / n
        m["transport.batches"] += io.get("transport.batches", 0) / n
        m["transport.rows_posted"] += io.get("transport.rows_posted", 0) / n
        m["transport.mb"] += io.get("transport.bytes", 0) / 1e6 / n
        m["streaming.checkpoint_mb"] += ck_bytes / 1e6 / n
        written += pq_bytes + ck_bytes + io.get("transport.bytes", 0)
    m["io.write_bytes_per_input_byte"] = written / n / info["bytes"]
    m["bench.fail_frac"] = fail_frac
    m["trace.pass_s"] = e2e["pass_s"]
    return m
