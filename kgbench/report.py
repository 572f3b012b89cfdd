"""Per-layer metrics of a traced run.

Write-side figures are per measured write operation; query figures are
per query of each class. See README.md for what each metric means and
which end-to-end metric it should move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from kgbench import trace

CLASSES = ("lookup", "join", "analytic")
_AGG_KEYS = ("self", "jobs", "tasks", "shuffle", "written")


def _layer_totals(spans, selfs) -> dict:
    agg: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(_AGG_KEYS, 0.0))
    for sp in spans:
        a = agg[sp.layer]
        a["self"] += selfs[sp.id]
        for j in sp.jobs:
            a["jobs"] += 1
            a["tasks"] += j["tasks"]
            a["shuffle"] += j["shuffle_write"]
            a["written"] += j["bytes_written"]
    return agg


def _inclusive(spans, name: str) -> float:
    return sum(sp.end - sp.start for sp in spans if sp.name == name)


def untimed_extras(w) -> dict:
    """Counts that need extra Spark work, taken after the timed window:
    the link-method mix of the last append slice."""
    if not hasattr(w, "last_slice"):
        return {}
    from pyspark.sql import functions as F

    from hbase_rdf_spark.operators.extraction import (
        extract_triples,
        mentions,
        stable_conversations,
    )
    from hbase_rdf_spark.pipeline import build_links

    df = w.spark.read.parquet(w.last_slice.path)
    links = build_links(mentions(extract_triples(stable_conversations(df))),
                        w.gaz)
    rows = links.groupBy("method").agg(F.count("*").alias("n")).collect()
    return {"links": {r["method"]: r["n"] for r in rows}}


def per_layer(w, tracer, log, overhead_s: float, window_s: float,
              extra: dict) -> dict:
    trace.attribute(tracer, log)
    selfs = trace.self_times(tracer.spans)
    acc = log["accum_node"]
    ops = w.ops
    n = len(ops)
    wspans = [sp for o in ops for sp in trace.subtree(o.root, tracer.spans)]
    wjobs = [j for sp in wspans for j in sp.jobs]
    agg = _layer_totals(wspans, selfs)
    m: dict[str, tuple[float, str]] = {}

    def layer(name, *keys):
        for key in keys:
            unit = {"self": "s", "jobs": "count", "tasks": "count",
                    "shuffle": "B", "written": "B"}[key]
            label = {"self": "wall_s", "shuffle": "shuffle_write_bytes",
                     "written": "bytes_written"}.get(key, key)
            m[f"{name}.{label}"] = (agg[name][key] / n, unit)

    def sql(node, metric):
        return trace.sql_sum(wjobs, acc, node, metric)

    turns = sum(o.turns for o in ops)
    layer("extraction", "self")
    m["extraction.python_worker_s"] = (
        sql("MapInPandas", "time to run Python workers") / 1000 / n, "s")
    m["extraction.arrow_bytes"] = (
        (sql("MapInPandas", "data sent to Python workers")
         + sql("MapInPandas", "data returned from Python workers")) / n, "B")
    m["extraction.rows_out_per_turn"] = (
        sql("MapInPandas", "number of output rows") / turns, "1")

    links = extra.get("links") or ops[-1].stats.get("links") or {}
    surfaces = sum(links.values())
    layer("linking", "self", "jobs")
    m["linking.surfaces"] = (float(surfaces), "count")
    for key, methods in (("exact", ("exact",)), ("lsh", ("lsh",)),
                         ("unresolved", ("cc", "unk"))):
        m[f"linking.{key}_frac"] = (
            sum(links.get(k, 0) for k in methods) / surfaces if surfaces else 0.0,
            "1")
    layer("cc", "self", "jobs")

    layer("encoding", "self")
    m["encoding.audit_s"] = (
        _inclusive(wspans, "encoding.assert_no_id_collisions") / n, "s")
    m["encoding.distinct_terms"] = (
        statistics.median(o.distinct_terms for o in ops), "count")

    layer("materialize", "self", "jobs", "tasks", "shuffle", "written")
    m["materialize.files"] = (
        statistics.median(o.files_added for o in ops), "count")
    layer("lineage", "self", "jobs")

    sroots = getattr(w, "setup_roots", [])
    sspans = [sp for r in sroots for sp in trace.subtree(r, tracer.spans)]
    sagg = _layer_totals(sspans, selfs)
    k = max(1, len(sroots))
    dump = getattr(w, "dump", None)
    m["ntriples.wall_s"] = (sagg["ntriples"]["self"] / k, "s")
    m["ntriples.jobs"] = (sagg["ntriples"]["jobs"] / k, "count")
    m["ntriples.lines"] = (float(dump.lines if dump else 0), "count")
    m["ntriples.malformed"] = (float(dump.malformed if dump else 0), "count")
    m["ntriples.load_s"] = (
        _inclusive(sspans, "engine.KgEngine.load_ntriples") / k, "s")

    layer("incremental", "self", "jobs")
    offered = sum(o.quads for o in ops)
    new_q = sum(o.stats.get("appended_quads", 0) for o in ops)
    new_t = sum(o.stats.get("appended_terms", 0) for o in ops)
    slice_t = sum(o.stats.get("slice_terms", 0) for o in ops)
    m["incremental.new_quads_frac"] = (new_q / offered if new_q else 0.0, "1")
    m["incremental.new_terms_frac"] = (new_t / slice_t if slice_t else 0.0, "1")

    http_over, serialize, nreads = 0.0, 0.0, 0
    for cls in CLASSES:
        reads = [(lat, rows, sp) for o in ops for q, lat, rows, sp in o.reads
                 if q.cls == cls]
        c = max(1, len(reads))
        parse = plan = execute = job = 0.0
        jobs, rows_out = [], 0
        for lat, rows, sp in reads:
            sub = trace.subtree(sp, tracer.spans)
            handle = _inclusive(sub, "service.SparqlService._handle")
            p = _inclusive(sub, "sparql.parse")
            pl = _inclusive(sub, "engine.KgEngine.sql")
            res = [r for r in sub if r.name == "service.results_json"]
            ex = _inclusive(res, "service.results_json")
            # jobs carry the group of their layer's entry span, so the
            # ones inside results_json are found by submission time
            job += trace.union_seconds(
                (j["submit"], j["end"]) for s in sub for j in s.jobs
                if j["end"] is not None and any(
                    r.start <= j["submit"] <= r.end for r in res))
            parse, plan, execute = parse + p, plan + pl, execute + ex
            serialize += max(0.0, handle - p - pl - ex)
            http_over += max(0.0, lat - handle)
            jobs += [j for s in sub for j in s.jobs]
            rows_out += rows
        nreads += len(reads)
        pre = f"sparql.{cls}"
        m[f"{pre}.parse_ms"] = (parse * 1000 / c, "ms")
        m[f"{pre}.plan_ms"] = (plan * 1000 / c, "ms")
        m[f"{pre}.exec_ms"] = (execute * 1000 / c, "ms")
        m[f"{pre}.job_ms"] = (job * 1000 / c, "ms")
        m[f"{pre}.jobs_per_query"] = (len(jobs) / c, "count")
        m[f"{pre}.files_read_per_query"] = (
            trace.sql_sum(jobs, acc, "Scan", "number of files read") / c, "count")
        m[f"{pre}.rows_read_per_result"] = (
            trace.sql_sum(jobs, acc, "Scan", "number of output rows")
            / max(1, rows_out), "1")
        m[f"{pre}.p50_ms"] = (
            statistics.median(r[0] for r in reads) * 1000 if reads else 0.0,
            "ms")
    c = max(1, nreads)
    m["service.serialize_ms"] = (serialize * 1000 / c, "ms")
    m["service.http_overhead_ms"] = (http_over * 1000 / c, "ms")

    m["engine.self_s"] = (agg["engine"]["self"] / n, "s")
    m["pipeline.self_s"] = (agg["pipeline"]["self"] / n, "s")
    tot = lambda key: sum(j[key] for j in wjobs) / n  # noqa: E731
    m["spark.jobs_per_op"] = (len(wjobs) / n, "count")
    m["spark.tasks_per_op"] = (tot("tasks"), "count")
    m["spark.executor_run_s"] = (tot("run_s"), "s")
    m["spark.executor_cpu_s"] = (tot("cpu_s"), "s")
    m["spark.gc_s"] = (tot("gc_s"), "s")
    m["spark.shuffle_write_bytes"] = (tot("shuffle_write"), "B")
    m["spark.spill_bytes"] = (tot("spill"), "B")
    m["spark.python_worker_s"] = (
        sum(o.worker_cpu_s for o in ops) / n, "s")
    m["spark.jit_cpu_s"] = (sum(o.jit_cpu_s for o in ops) / n, "s")
    m["write_s"] = (statistics.median(o.wall_s for o in ops), "s")
    m["write_samples"] = (float(n), "count")
    m["read_samples"] = (float(nreads), "count")
    m["unattributed_s"] = (sum(selfs[o.root.id] for o in ops) / n, "s")
    m["trace_overhead_frac"] = (overhead_s / window_s, "1")
    return m
