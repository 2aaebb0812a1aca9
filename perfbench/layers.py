"""Per-layer metrics of a traced run, averaged per traced op.

Layers are named after the plateau_spark modules whose entry points the
tracer wraps; ``session`` is the Spark engine (job time read from the
status store) and ``driver`` is time on the op's thread inside no traced
call and no job (the benchmark's own code and pyspark client work).
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

from plateau_spark.core import caching, naming
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.store import Store
from plateau_spark.plans import pruning

import stats
import workloads

# span name -> per-layer metric summed over the outermost such spans
SPAN_METRICS = {
    "metadata.load": "metadata.load_s",
    "metadata.commit": "metadata.commit_s",
    "pruning.plan_scan": "pruning.plan_s",
    "index.load": "index.load_s",
    "index.load_index_dataframe": "index.load_s",
    "index.build_index_pairs_driver": "index.build_s",
    "index.persist_index_dict": "index.build_s",
    "index.persist_index_dataframe": "index.build_s",
    "index.merge_index_dataframes": "index.build_s",
    "index.build_dataframe": "index.build_s",
    "zonemaps.collect_partition_stats": "zonemaps.harvest_s",
    "blooms.build_bloom_rows_driver": "blooms.build_s",
    "blooms.build_bloom_dataframe": "blooms.build_s",
    "blooms.persist_bloom_rows": "blooms.build_s",
    "blooms.persist_bloom_dataframe": "blooms.build_s",
    "blooms.allowed_labels": "blooms.consult_s",
    "events.commit_stream_batch": "streaming.batch_commit_s",
}
OPERATOR_LAYERS = ("operators.text", "operators.dedup", "operators.similarity")


def explain_reads(store: Store, reads) -> list[dict]:
    """Pruning report for each ``(dataset, predicates)`` read of a step:
    files per tier from ``explain_scan`` and, by reading each scanned
    file with pyarrow, how many of them hold a matching row."""
    out = []
    for uuid, predicates in reads:
        meta = DatasetMetadata.load(store, uuid)
        report = pruning.explain_scan(meta, store, predicates)
        scanned = [r for r in report if r["scanned"]]
        useful = rows = 0
        for r in scanned:
            pdf = pq.read_table(store.path(r["file"])).to_pandas()
            for key, value in meta.partitions[r["label"]].key_values.items():
                pdf[key] = value
            hits = int(workloads.dnf_mask(pdf, predicates).sum())
            rows += hits
            useful += hits > 0
        tiers = {"partition_key": 0, "index": 0, "zone_map": 0, "bloom": 0}
        for r in report:
            for tier in r["pruned_by"]:
                tiers[tier] = tiers.get(tier, 0) + 1
        out.append({"files_total": len(report), "files_scanned": len(scanned),
                    "useful": useful, "rows": rows, "pruned_by": tiers})
    return out


def footprint(store: Store, datasets) -> dict:
    """Size of the commit documents and count of history snapshots of
    ``datasets``, read right after a traced op (before the final GC)."""
    doc_kb = snapshots = 0.0
    for uuid in datasets:
        key = naming.metadata_key(uuid)
        if os.path.exists(store.path(key)):
            doc_kb += os.path.getsize(store.path(key)) / 1024.0
        snapshots += sum(1 for _ in store.iter_keys(f"{uuid}/history/"))
    return {"metadata.doc_kb": doc_kb, "metadata.history_snapshots": snapshots}


def _outermost(spans_of_op, name):
    by_id = {s["id"]: s for s in spans_of_op}
    for s in spans_of_op:
        if s["name"] != name:
            continue
        parent = by_id.get(s["parent"])
        while parent is not None and parent["name"] != name:
            parent = by_id.get(parent["parent"])
        if parent is None:
            yield s


# store span name -> call counter
STORE_CALLS = {
    "store.get_json": "store.get", "store.get_bytes": "store.get",
    "store.put_json": "store.put", "store.put_bytes": "store.put",
    "store.exists": "store.exists", "store.size": "store.exists",
    "store.iter_keys": "store.list", "store.delete": "store.delete",
    "store.move": "store.move", "store.read_parquet": "store.read_parquet",
    "store.parquet_schema": "store.read_parquet",
}


def per_layer(tracer, jobs: list[dict], explained: list[dict], footprints: list[dict],
              ops) -> dict:
    """Every per-layer metric, as a mean over the traced ops ``ops``.

    ``explained`` holds ``explain_reads`` of the reads and ``footprints``
    the ``footprint`` taken after each of those ops. A metric whose
    spans never fired is absent, not zero."""
    ops = set(ops)
    roots = [s for s in tracer.spans if s["parent"] is None and s["layer"] == "driver"
             and s["main"] and s["op"] in ops]
    n = len(roots)
    if n == 0:
        return {}
    totals: dict[str, float] = {name: 0.0 for name in set(STORE_CALLS.values())}

    def add(key, value):
        totals[key] = totals.get(key, 0.0) + value

    for root in roots:
        op = root["op"]
        mine = [s for s in tracer.spans if s["op"] == op and s is not root]
        op_jobs = [j for j in jobs if j["op"] == op]
        wall = root["end"] - root["start"]
        job_iv = [(j["start"], j["end"]) for j in op_jobs]
        covered = sum(e - s for s, e in stats.interval_union(
            (max(s, root["start"]), min(e, root["end"])) for s, e in job_iv))
        add("spark.jobs", len(op_jobs))
        add("spark.tasks", sum(j["tasks"] for j in op_jobs))
        add("spark.job_s", sum(e - s for s, e in job_iv))
        add("spark.driver_gap_s", wall - covered)
        add("wall_s", wall)
        main = [(s["start"], s["end"], s["layer"]) for s in mine if s["main"]]
        for layer, secs in stats.self_times((root["start"], root["end"]), main, job_iv).items():
            add(f"self.{layer}_s", secs)
        for s in mine:
            if s["layer"] == "core.store":
                add("store.s", s["end"] - s["start"])
                add(STORE_CALLS[s["name"]], 1)
                add("store.bytes_read", s.get("bytes_read", 0))
                add("store.bytes_written", s.get("bytes_written", 0))
        for name in {s["name"] for s in mine if s["layer"] != "core.store"}:
            layer_spans = list(_outermost(mine, name))
            secs = sum(s["end"] - s["start"] for s in layer_spans)
            layer = layer_spans[0]["layer"]
            if name in SPAN_METRICS:
                add(SPAN_METRICS[name], secs)
            elif layer == "sources.dataset":
                add(f"dataset.{name.split('.', 1)[1]}_s", secs)
            elif layer in OPERATOR_LAYERS:
                stage = name.split(".", 1)[1]
                add(f"op.{stage}.call_s", secs)
                add(f"op.{stage}.jobs", sum(
                    1 for j in op_jobs for s in layer_spans if s["start"] <= j["start"] < s["end"]
                ))

        op_starts = [s["start"] for s in mine if s["layer"] in OPERATOR_LAYERS]
        if op_starts:
            # the write that runs the operators' lazy plan
            add("op.action_s", sum(
                s["end"] - s["start"]
                for s in _outermost(mine, "dataset.store_dataframe_as_dataset")
                if s["start"] > min(op_starts)
            ))

    out = {k: v / n for k, v in totals.items()}
    # self times partition each op's wall time; this stays at ~0
    out["self_residual_s"] = out["wall_s"] - sum(
        v for k, v in out.items() if k.startswith("self."))
    if "self.sources.dataset_s" in out:
        out["dataset.self_s"] = out["self.sources.dataset_s"]
    if explained:
        files = sum(e["files_scanned"] for e in explained)
        out["pruning.files_total"] = statistics.mean(e["files_total"] for e in explained)
        out["pruning.files_scanned"] = statistics.mean(e["files_scanned"] for e in explained)
        for tier, key in (("partition_key", "key"), ("index", "index"),
                          ("zone_map", "zonemap"), ("bloom", "bloom")):
            out[f"pruning.pruned_by_{key}"] = statistics.mean(
                e["pruned_by"].get(tier, 0) for e in explained)
        out["pruning.useful_file_frac"] = (
            sum(e["useful"] for e in explained) / files if files else 1.0)
        out["scan.rows_per_file"] = sum(e["rows"] for e in explained) / files if files else 0.0
    for key in footprints[0] if footprints else ():
        out[key] = statistics.mean(f[key] for f in footprints)
    out["caching.shared_live"] = caching.shared_cache_count()
    out["traced_ops"] = n
    return out
