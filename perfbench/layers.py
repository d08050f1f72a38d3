"""Per-layer metrics of a traced run, built from outside the program: the
benchmark's spans joined with Spark's event log (see :mod:`spans`).

Layers are modules of ``rdf_indexer_spark``: ``build``/``analyzer`` (scan,
tokenize, posting emit, part-aligned shuffle, pack), ``writer`` (parquet
writes and commits), ``codec`` (on-disk sizes), ``bm25`` (routing,
termstats lookup, block fetch, driver decode/score, result
materialization, distributed walk), ``maintain`` (append, update, delete,
compact) and ``session``. A metric whose layer does no work in a workload
reads 0 there.
"""

from __future__ import annotations

import os
import statistics

from spans import PY_NODES, Attribution, Span, union_ms
from workloads import CLASSES

MS, NS = 1e-3, 1e-9
DIST_NODES = tuple(n for n in PY_NODES if n != "MapInPandas")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _top(sp: Span) -> Span | None:
    """The client operation (query or probe) a span belongs to."""
    while sp is not None and not sp.name.startswith(("query.", "probe.")):
        sp = sp.parent
    return sp


def per_layer(run, result, log_dir: str) -> dict[str, float]:
    spans = run.tracer.spans
    at = Attribution(spans, log_dir)
    cores = len(os.sched_getaffinity(0))
    out: dict[str, float] = {"session.start_s": run.session_start_s}
    by_name: dict[str, list[Span]] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)

    def jobs_of(names) -> list:
        return [j for n in names for sp in by_name.get(n, [])
                for j in at.jobs_under(sp)]

    # -- build: the workload's build_index call ---------------------------
    builds = by_name.get("build_index", [])
    bjobs = jobs_of(["build_index"])
    bst = at.stages_of(bjobs)
    wall = sum(sp.wall_s for sp in builds)
    emit = [st for st in bst if at.has_kernel(st, ("emit",))]
    scan = [j for j in bjobs if any(
        st.func.startswith("build._group_metrics")
        for st in at.stages_of([j]))]
    out.update({
        "build.wall_s": wall,
        "build.jobs": len(bjobs),
        "build.tasks": sum(st.tasks for st in bst),
        "build.map_stage.run_s":
            at.sum_acc(emit, "internal.metrics.executorRunTime") * MS,
        "build.map_stage.cpu_s":
            at.sum_acc(emit, "internal.metrics.executorCpuTime") * NS,
        "build.emit.python_run_s":
            at.py_kernel(bst, ("emit",), "python_run_ms") * MS,
        "build.emit.bytes_to_python":
            at.py_kernel(bst, ("emit",), "bytes_to_python"),
        "build.emit.bytes_from_python":
            at.py_kernel(bst, ("emit",), "bytes_from_python"),
        "build.shuffle.bytes_written":
            at.sum_acc(bst, "internal.metrics.shuffle.write.bytesWritten"),
        "build.shuffle.records":
            at.sum_acc(bst, "internal.metrics.shuffle.write.recordsWritten"),
        "build.shuffle.write_s":
            at.sum_acc(bst, "internal.metrics.shuffle.write.writeTime") * NS,
        "build.pack.python_run_s":
            at.py_kernel(bst, ("_pack_stream",), "python_run_ms") * MS,
        "build.pack.bytes_to_python":
            at.py_kernel(bst, ("_pack_stream",), "bytes_to_python"),
        "build.metrics_scan_s": at.job_wall_ms(scan) * MS,
        # finalize (stats + termstats writes) follows the last metrics scan;
        # write jobs carry no Python call site, so it is found by order
        "build.finalize_s": sum(
            (sp.end_ms - max((j.end_ms for j in scan
                              if sp.start_ms <= j.submit_ms <= sp.end_ms),
                             default=sp.end_ms)) * MS for sp in builds),
        "build.driver_gap_s": max(0.0, wall - at.job_wall_ms(bjobs) * MS),
        "build.executor_busy_ratio": (
            at.sum_acc(bst, "internal.metrics.executorRunTime") * MS
            / (wall * cores) if wall else 0.0),
        "build.gc_s": at.sum_acc(bst, "internal.metrics.jvmGCTime") * MS,
    })

    # -- writer: every write the workload made ----------------------------
    writes = ["build_index", "append_documents", "update_documents",
              "delete_docs", "compact_index"]
    wst = at.stages_of(jobs_of(writes))
    out.update({
        "writer.bytes_written":
            at.sum_acc(wst, "internal.metrics.output.bytesWritten"),
        "writer.files_written": sum(
            at.driver_metric(sp, "number of written files")
            for n in writes for sp in by_name.get(n, [])),
        "writer.task_commit_s": at.sum_acc(wst, "task commit time") * MS,
    })

    # -- codec: on-disk table sizes after the first build ------------------
    first = run.facts.get("index", [{}])[0]
    out.update({
        "codec.blocks_bytes": first.get("blocks", 0),
        "codec.docstore_bytes": first.get("docstore", 0),
        "codec.termstats_bytes": first.get("termstats", 0),
    })

    # -- bm25: client queries (serve) and probes (churn) -------------------
    ops = [sp for sp in spans if sp.name.startswith(("query.", "probe."))]
    n_ops = len(ops)
    op_jobs = {id(sp): at.jobs_under(sp) for sp in ops}
    for cls in CLASSES:
        mine = by_name.get("query." + cls, [])
        out[f"bm25.jobs_per_query.{cls}"] = _mean(
            len(op_jobs[id(sp)]) for sp in mine)
    out["bm25.jobs_per_query"] = _mean(len(v) for v in op_jobs.values())
    out["bm25.tasks_per_query"] = _mean(
        sum(st.tasks for st in at.stages_of(v)) for v in op_jobs.values())

    def per_op(name: str) -> list[Span]:
        return [sp for sp in by_name.get(name, []) if _top(sp) is not None]

    ts, fb = per_op("term_stats"), per_op("fetch_blocks")
    fetch_st = at.stages_of([j for sp in fb for j in at.jobs_under(sp)])
    searches = per_op("search") + per_op("search_phrase")
    driver_ops = [sp for sp in searches
                  if _top(sp).attrs.get("route") == "driver"]
    dist_ops = [sp for sp in ops if sp.attrs.get("route") == "distributed"]
    dist_st = at.stages_of([j for sp in dist_ops for j in op_jobs[id(sp)]])
    n_dist = max(len(dist_ops), 1)
    out.update({
        "bm25.termstats_s": sum(sp.wall_s for sp in ts) / max(n_ops, 1),
        "bm25.fetch_s": sum(sp.wall_s for sp in fb) / max(n_ops, 1),
        "bm25.fetch.bytes_read": at.sum_acc(
            fetch_st, "internal.metrics.input.bytesRead") / max(n_ops, 1),
        "bm25.fetch.blocks": sum(sp.attrs.get("blocks", 0) for sp in fb)
            / max(n_ops, 1),
        "bm25.driver_py_s": _mean(
            sp.wall_s - union_ms([(j.submit_ms, j.end_ms)
                                  for j in at.jobs_under(sp)]) * MS
            for sp in driver_ops),
        "bm25.materialize_s": _mean(sp.wall_s for sp in per_op("materialize")),
        "bm25.dist.walk_python_s": at.py_kernel(
            dist_st, (), "python_run_ms", DIST_NODES) * MS / n_dist,
        "bm25.dist.bytes_to_python": at.py_kernel(
            dist_st, (), "bytes_to_python", DIST_NODES) / n_dist,
        "bm25.route.driver_share": (
            sum(1 for sp in ops if sp.attrs.get("route") == "driver")
            / n_ops if n_ops else 0.0),
        "bm25.reader_open_s": _mean(
            sp.wall_s for sp in by_name.get("reader_open", [])),
    })
    d = result.detail
    for cls in CLASSES:
        out[f"serve.q_{cls}_p50_ms"] = d.get(f"q_{cls}_p50_ms", 0.0)
    out["serve.query_tail_ms"] = d.get("query_tail_ms", 0.0)

    # -- maintain: churn mutations -----------------------------------------
    muts = ["append_documents", "update_documents", "delete_docs"]
    comp = by_name.get("compact_index", [])
    cst = at.stages_of(jobs_of(["compact_index"]))
    mut_wst = at.stages_of(jobs_of(muts))
    n_mut = sum(len(by_name.get(n, [])) for n in muts)
    ingested = d.get("ingested_text_bytes", 0)
    out.update({
        "maintain.append_s": _median(
            sp.wall_s for sp in by_name.get("append_documents", [])),
        "maintain.update_s": _median(
            sp.wall_s for sp in by_name.get("update_documents", [])),
        "maintain.delete_s": _median(
            sp.wall_s for sp in by_name.get("delete_docs", [])),
        "maintain.compact_s": sum(sp.wall_s for sp in comp),
        "maintain.jobs_per_mutation":
            len(jobs_of(muts)) / n_mut if n_mut else 0.0,
        "maintain.compact.decode_python_s":
            at.py_kernel(cst, ("kernel",), "python_run_ms") * MS,
        "maintain.compact.bytes_rewritten":
            at.sum_acc(cst, "internal.metrics.output.bytesWritten"),
        "churn.ingest_docs_per_s": d.get("ingest_docs_per_s", 0.0),
        "churn.query_p50_ms": d.get("churn_query_p50_ms", 0.0),
        "churn.write_amp": (
            at.sum_acc(mut_wst, "internal.metrics.output.bytesWritten")
            / ingested if ingested else 0.0),
        "churn.blocks_files": run.facts.get("blocks_files_cycles", 0),
        "churn.space_per_live_byte_before":
            d.get("space_per_live_byte_before", 0.0),
        "churn.space_per_live_byte_after":
            d.get("space_per_live_byte_after", 0.0),
    })
    for k, v in result.e2e.items():
        out["traced." + k] = v
    return out
