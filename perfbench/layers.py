"""Per-layer metrics of a traced pass, from its spans and event log.

Layers are the program's modules, measured from outside:

* ``plans``: time inside the call that builds the result DataFrame
  (``REGISTRY[name].fn``; ``latest_fundamentals_asof`` on etl) and the
  jobs launched inside it (eager loop checkpoints, artifact builds);
* ``catalyst``: phase times of the returned DataFrame's QueryExecution;
* ``spark``: jobs, stages and tasks the pass launched, their wall time,
  the op wall no job covered (``driver_gap_s``), task run and GC time,
  shuffle and spill bytes;
* ``python``: bytes the Python-UDF/Arrow operators sent to and received
  from Python workers;
* ``artifacts``: written-once builds of ``plans.artifacts``;
* ``merge``: rows and bytes the jobs under the refresh spans
  (``update_history``, ``update_fundamentals``) wrote, from their tasks'
  output metrics, per row their feed fetches (Python map functions)
  produced; etl only, zero on llm-loops;
* ``streaming``: jobs and tasks of the stream catch-up; etl only.

Times that only exist on one workload (artifact build seconds, the
``finjobs`` and ``fetcher`` spans) go into the report, not the metrics,
so no metric reads a constant zero time.
"""

from __future__ import annotations

import statistics

from spans import attribute_jobs, covered_seconds, read_event_log

#: traced-only probes that are not part of the pass's work
PROBE_OPS = frozenset({"fetch_alone"})


def per_layer(spans, log_path: str, first_pass: dict, wl):
    jobs = attribute_jobs(spans, read_event_log(log_path))
    children: dict[int | None, list] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)

    def subtree_jobs(sp) -> list:
        out = list(jobs[sp.sid])
        for ch in children.get(sp.sid, []):
            out += subtree_jobs(ch)
        return out

    tops = [sp for sp in children.get(None, []) if sp.op not in PROBE_OPS]
    pass_jobs = [j for sp in tops for j in subtree_jobs(sp)]
    builds = [sp for sp in spans if sp.name == "build"]
    ops = first_pass["ops"]

    def catalyst(phase: str) -> float:
        return sum(op.layers.get("catalyst", {}).get(phase, 0.0) for op in ops)

    m = {
        "plans.build_s": sum(sp.seconds for sp in builds),
        "plans.build_jobs": sum(len(subtree_jobs(sp)) for sp in builds),
        "catalyst.analysis_s": catalyst("analysis"),
        "catalyst.optimization_s": catalyst("optimization"),
        "catalyst.planning_s": catalyst("planning"),
        "spark.jobs": len(pass_jobs),
        "spark.stages": sum(len(j.stages) for j in pass_jobs),
        "spark.tasks": sum(j.tasks for j in pass_jobs),
        "spark.job_wall_s": sum(j.end_ms - j.start_ms for j in pass_jobs) / 1000.0,
        "spark.driver_gap_s": sum(
            sp.seconds - covered_seconds(subtree_jobs(sp)) for sp in tops),
        "spark.task_run_s": sum(j.task_run_ms for j in pass_jobs) / 1000.0,
        "spark.task_gc_s": sum(j.task_gc_ms for j in pass_jobs) / 1000.0,
        "spark.shuffle_read_bytes": sum(j.shuffle_read for j in pass_jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in pass_jobs),
        "spark.spill_bytes": sum(j.spill for j in pass_jobs),
        "python.bytes_sent": sum(j.py_sent for j in pass_jobs),
        "python.bytes_received": sum(j.py_recv for j in pass_jobs),
        "artifacts.builds": first_pass["builds"],
        "merge.rows_rewritten_per_row_ingested": 0.0,
        "merge.bytes_written": 0,
        "streaming.jobs": 0,
        "streaming.tasks_per_day": 0.0,
        "trace.suite_s": first_pass["wall"],
    }
    extra = {}
    facts = getattr(wl, "facts", {})
    if facts:
        merges = [sp for sp in spans
                  if sp.name in ("update_history", "update_fundamentals")]
        merge_jobs = [j for sp in merges for j in subtree_jobs(sp)]
        # A plan that reads the fetched frame twice (the merge's anti-join
        # and union) runs the fetch once per read, each in a plan node of
        # its own; rows ingested are those of one run, so per merge the
        # largest count of any one node
        ingested = fetched = 0
        for sp in merges:
            per_node: dict[int, int] = {}
            for j in subtree_jobs(sp):
                for acc, rows in j.py_map_rows.items():
                    per_node[acc] = per_node.get(acc, 0) + rows
            ingested += max(per_node.values(), default=0)
            fetched += sum(per_node.values())
        written = sum(j.out_records for j in merge_jobs)
        extra["merge.rows_written"] = written
        extra["merge.rows_ingested"] = ingested
        extra["merge.rows_fetched"] = fetched
        m["merge.rows_rewritten_per_row_ingested"] = written / ingested
        m["merge.bytes_written"] = sum(j.out_bytes for j in merge_jobs)
        stream = [sp for sp in tops if sp.op == "stream"]
        sj = [j for sp in stream for j in subtree_jobs(sp)]
        m["streaming.jobs"] = len(sj)
        m["streaming.tasks_per_day"] = sum(j.tasks for j in sj) / facts["stream_days"]

        def span_s(name: str) -> list[float]:
            return [sp.seconds for sp in spans if sp.name == name]

        extra["finjobs.update_history_s"] = statistics.median(span_s("update_history"))
        extra["finjobs.update_fundamentals_s"] = statistics.median(
            span_s("update_fundamentals"))
        extra["fetcher.fetch_history_s"] = span_s("fetch_history")[0]
    per_op = []
    for sp in tops:
        sj = subtree_jobs(sp)
        per_op.append({"op": sp.op, "wall_s": sp.seconds, "jobs": len(sj),
                       "stages": sum(len(j.stages) for j in sj),
                       "tasks": sum(j.tasks for j in sj),
                       "job_wall_s": sum(j.end_ms - j.start_ms for j in sj) / 1000.0})
    extra["per_op"] = per_op
    return m, extra
