"""Per-layer metrics from the spans of the traced pass.

Spans are written by the harness's Tracer: run > op > {phase, plan, job >
stage, micro_batch}. Times are epoch milliseconds.
"""
import statistics


def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    segs = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > s)
    total, cur_s, cur_e = 0, None, None
    for s, e in segs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans, cores, untraced_run_s, ledger, tables):
    """Every per-layer metric, keyed by name. `ledger` and `tables`
    describe the traced pass's warehouse (ingest workloads; else None)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    run = next(s for s in spans if s["kind"] == "run")
    ops = [s for s in children.get(run["id"], []) if s["kind"] == "op"]

    m = {k: 0.0 for k in (
        "SparkEntry.build_s", "SparkEntry.build_jobs", "SessionMemo.rebuild_s",
        "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
        "driver.only_s", "exec.wall_s", "exec.jobs", "exec.stages",
        "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
        "exec.input_bytes", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes",
        "exec.peak_task_mem_bytes", "exec.task_skew",
        "FilePipeline.run_s", "FilePipeline.backfill_s", "FilePipeline.jobs",
        "StreamingIngest.batches", "StreamingIngest.add_batch_s",
        "StreamingIngest.trigger_overhead_s")}
    wall_ms = uncovered_ms = 0
    first_progress = []
    self_ms = {"build": 0, "plan": 0, "exec": 0, "driver_other": 0}
    for op in ops:
        lo, hi = op["start_ms"], op["end_ms"]
        wall_ms += hi - lo
        kids = children.get(op["id"], [])
        phases = {p["name"]: p for p in kids if p["kind"] == "phase"}
        jobs = [j for j in kids if j["kind"] == "job"]
        plans = [p for p in kids if p["kind"] == "plan"]
        job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
        m["SessionMemo.rebuild_s"] += op["attrs"].get("rebuild_s", 0.0)

        # plan phases of the materializing action (query ops) or of any
        # action inside the op (ingest ops)
        act = phases.get("action")
        if act:
            plans = [p for p in plans if act["start_ms"] <= p["end_ms"] <= act["end_ms"]]
        for p in plans:
            key = f"plans.{p['name']}_s"
            if key in m:
                m[key] += (p["end_ms"] - p["start_ms"]) / 1e3
        build = phases.get("build")
        covered = [(p["start_ms"], p["end_ms"]) for p in plans] + job_iv
        if build:
            m["SparkEntry.build_s"] += (build["end_ms"] - build["start_ms"]) / 1e3
            m["SparkEntry.build_jobs"] += sum(
                1 for j in jobs if build["start_ms"] <= j["start_ms"] <= build["end_ms"])
            covered.append((build["start_ms"], build["end_ms"]))
        uncovered_ms += (hi - lo) - _union_ms(covered, lo, hi)

        exec_ms = _union_ms(job_iv, lo, hi)
        m["exec.wall_s"] += exec_ms / 1e3
        m["driver.only_s"] += ((hi - lo) - exec_ms) / 1e3
        if build:
            b_exec = _union_ms(job_iv, build["start_ms"], build["end_ms"])
            self_ms["build"] += (build["end_ms"] - build["start_ms"]) - b_exec
        self_ms["plan"] += _union_ms([(p["start_ms"], p["end_ms"]) for p in plans],
                                     act["start_ms"], act["end_ms"]) if act else 0
        self_ms["exec"] += exec_ms

        for j in jobs:
            m["exec.jobs"] += 1
            for st in children.get(j["id"], []):
                if st["kind"] != "stage":
                    continue
                a = st["attrs"]
                m["exec.stages"] += 1
                m["exec.tasks"] += a["tasks"]
                m["exec.task_run_s"] += a["run_ms"] / 1e3
                m["exec.task_cpu_s"] += a["cpu_ns"] / 1e9
                m["exec.gc_s"] += a["gc_ms"] / 1e3
                m["exec.input_bytes"] += a["input_bytes"]
                m["exec.shuffle_read_bytes"] += a["shuffle_read_bytes"]
                m["exec.shuffle_write_bytes"] += a["shuffle_write_bytes"]
                m["exec.spill_bytes"] += a["spill_bytes"]
                m["exec.peak_task_mem_bytes"] = max(m["exec.peak_task_mem_bytes"],
                                                    a["peak_mem_bytes"])
                if a["tasks"] >= 2:
                    skew = a["task_max_ms"] / max(a["task_median_ms"], 1)
                    m["exec.task_skew"] = max(m["exec.task_skew"], skew)

        for name in ("pipeline", "stream"):
            if name in phases:
                p = phases[name]
                m["FilePipeline.run_s"] += (p["end_ms"] - p["start_ms"]) / 1e3
        if "backfill" in phases:
            p = phases["backfill"]
            m["FilePipeline.backfill_s"] += (p["end_ms"] - p["start_ms"]) / 1e3
        if "pipeline" in phases or "stream" in phases:
            m["FilePipeline.jobs"] += len(jobs)

        mbs = sorted((b for b in kids if b["kind"] == "micro_batch"),
                     key=lambda b: b["start_ms"])
        for b in mbs:
            d = b["attrs"]["durations"]
            m["StreamingIngest.batches"] += 1
            m["StreamingIngest.add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["StreamingIngest.trigger_overhead_s"] += (
                d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3
        if mbs:
            first_progress.append((mbs[0]["end_ms"] - lo) / 1e3)

    self_ms["driver_other"] = wall_ms - sum(self_ms.values())
    run_s = run["attrs"]["run_s"]
    m["driver.only_share"] = m["driver.only_s"] / max(wall_ms / 1e3, 1e-9)
    m["exec.core_busy_share"] = m["exec.task_run_s"] / max(run_s * cores, 1e-9)
    m["StreamingIngest.first_progress_s"] = (
        statistics.median(first_progress) if first_progress else 0.0)
    ledger = ledger or {}
    tables = tables or {}
    m["FilePipeline.files_ingested"] = ledger.get("files_ingested", 0)
    m["FilePipeline.files_quarantined"] = ledger.get("files_quarantined", 0)
    m["FilePipeline.rows_inserted"] = ledger.get("rows_inserted", 0)
    m["FilePipeline.bytes_written"] = sum(t["bytes"] for t in tables.values())
    m["FilePipeline.files_written"] = sum(t["parquet_files"] for t in tables.values())
    m["trace.overhead_s"] = run_s - untraced_run_s
    m["trace.uncovered_share"] = uncovered_ms / max(wall_ms, 1)
    self_s = {k: v / 1e3 for k, v in self_ms.items()}
    return m, self_s
