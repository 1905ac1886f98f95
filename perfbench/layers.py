"""Layer wrappers and per-layer metrics of the traced run.

Layers are the engine's modules: ``session``, ``operators.maintenance``
(lineage append + compaction), ``operators.trigger``, ``operators.jobs``
(dispatch / poll), the read path (``spark.read.parquet(<table>/data)``)
and ``queries`` (build + execution of registered queries).  The
per-layer metrics and their units are BENCHMARK.json's ``per_layer``;
every workload prints all of them, and a layer the workload never
enters reports 0.  The session layer is timed in run.py.
"""

from __future__ import annotations

import statistics

from iceberg_aws_event_based_table_management_spark.operators import jobs, maintenance, trigger

from tracing import Tracer


def install(tracer: Tracer) -> None:
    """Wrap the public calls of the control-plane layers."""
    if not tracer.enabled:
        return
    tracer.wrap(jobs.CommitReporter, "reported_append", "writer.reported_append")
    tracer.wrap(maintenance, "append_snapshot", "maintenance.append_snapshot")
    tracer.wrap(jobs, "evaluate_and_maybe_optimize", "jobs.evaluate_and_maybe_optimize")
    tracer.wrap(trigger, "decide_optimize", "trigger.decide_optimize")
    tracer.wrap(maintenance, "file_inventory", "maintenance.file_inventory")
    tracer.wrap(maintenance, "plan_binpack_groups", "maintenance.plan_binpack_groups")
    tracer.wrap(
        maintenance,
        "compact_table",
        "maintenance.compact_table",
        on_result=lambda r: {
            "files_before": r.files_before,
            "files_after": r.files_after,
            "replaces": len(r.replace_snapshot_ids),
        },
    )
    tracer.wrap(
        jobs.LocalCompactionExecutor, "wait_for_completion", "jobs.wait_for_completion"
    )

    # Dispatch: the job's worker thread adopts the dispatch span as its
    # parent, so a background compaction hangs under the commit that
    # fired it.  The worker target is looked up on the instance when the
    # thread is created, so shadowing it there is enough.
    orig_execute = jobs.LocalCompactionExecutor.execute

    def execute(self):
        with tracer.span("jobs.dispatch"):
            parent = tracer.current()
            orig_run = self._run

            def run():
                with tracer.adopt(parent):
                    orig_run()

            self._run = run
            return orig_execute(self)

    tracer.patch(jobs.LocalCompactionExecutor, "execute", execute)


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def control_plane_metrics(tracer: Tracer, table_facts: dict, since: float) -> dict:
    """Per-layer numbers of the commit workloads, from the spans of the
    measured phase (commits that started at or after ``since``)."""
    t = tracer
    m: dict[str, float] = {}
    commits = [r for r in t.named("writer.reported_append") if r["start"] >= since]
    ids = {r["id"] for r in commits}
    self_write, appends, eval_self, decide_stages = [], [], [], []
    for c in commits:
        kids = t.children(c)
        self_write.append(_dur(c) - sum(_dur(k) for k in kids))
        for k in kids:
            if k["name"] == "maintenance.append_snapshot":
                appends.append(_dur(k))
            elif k["name"] == "jobs.evaluate_and_maybe_optimize":
                dispatch = [d for d in t.children(k) if d["name"] == "jobs.dispatch"]
                eval_self.append(_dur(k) - sum(_dur(d) for d in dispatch))
                decide_stages.append(
                    k["counters"]["stages"]
                    + sum(t.inclusive(x, "stages") for x in t.children(k) if x["name"] != "jobs.dispatch")
                )
    m["writer.data_write_s"] = _med(self_write)
    m["maintenance.append_snapshot_s"] = _med(appends)
    m["jobs.evaluate_self_s"] = _med(eval_self)
    m["trigger.decide_stages"] = _med(decide_stages)

    def under_commit(rec: dict) -> bool:
        while rec is not None:
            if rec["id"] in ids:
                return True
            rec = t.by_id(rec["parent"])
        return False

    dispatches = [d for d in t.named("jobs.dispatch") if under_commit(d)]
    compactions = [c for c in t.named("maintenance.compact_table") if under_commit(c)]
    m["maintenance.compact_table_s"] = _med(_dur(c) for c in compactions)
    m["maintenance.compact_plan_s"] = _med(
        sum(_dur(k) for k in t.children(c) if k["name"] in ("maintenance.file_inventory", "maintenance.plan_binpack_groups"))
        for c in compactions
    )
    m["maintenance.compact_stages"] = _med(t.inclusive(c, "stages") for c in compactions)
    m["maintenance.compact_cpu_s"] = _med(t.inclusive(c, "cpu_s") for c in compactions)
    m["maintenance.files_before"] = _med(c["attrs"].get("files_before", 0) for c in compactions)
    m["maintenance.files_after"] = _med(c["attrs"].get("files_after", 0) for c in compactions)
    polls = []
    for d in dispatches:
        comp = [c for c in compactions if c["parent"] == d["id"]]
        waits = [w for w in t.children(d) if w["name"] == "jobs.wait_for_completion"]
        if comp and waits:
            polls.append(max(0.0, waits[0]["end"] - comp[0]["end"]))
    m["jobs.poll_overhead_s"] = _med(polls)
    m["jobs.dispatches"] = len(dispatches)
    useful = sum(1 for c in compactions if c["attrs"].get("replaces", 0) > 0)
    m["jobs.dispatch_useful_ratio"] = useful / len(dispatches) if dispatches else 0.0
    m["jobs.jobs_failed"] = table_facts["jobs_failed"]
    m["maintenance.lineage_files"] = table_facts["lineage_files"]
    m["maintenance.orphan_dirs"] = table_facts["orphan_dirs"]
    reads = [r for r in t.named("read.table") if r["start"] >= since]
    m["read.files_scanned"] = _med(r["attrs"].get("files", 0) for r in reads)
    m["read.stages"] = _med(t.inclusive(r, "stages") for r in reads)
    return m


def query_metrics(tracer: Tracer, names: list[str]) -> dict:
    """Per-layer numbers of the analytics workload: per-query medians over
    the steady passes, summed over the suite (counts repeat exactly, so
    the median of a count is the count)."""
    t = tracer
    m: dict[str, float] = {}
    per: dict[str, dict[str, list[float]]] = {n: {} for n in names}
    for r in t.spans:
        name, kind = r["attrs"].get("query"), r["name"]
        if name not in per or kind not in ("queries.build", "queries.exec"):
            continue
        c = r["counters"]
        slot = per[name]
        key = "build" if kind == "queries.build" else "exec"
        slot.setdefault(f"{key}_s", []).append(_dur(r))
        slot.setdefault(f"{key}_stages", []).append(c["stages"])
        slot.setdefault(f"{key}_jobs", []).append(c["jobs"])
        for k in ("cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            slot.setdefault(f"{key}_{k}", []).append(c[k])

    def suite(key: str) -> float:
        return sum(_med(per[n].get(key, [])) for n in names)

    m["queries.build_s"] = suite("build_s")
    m["queries.exec_s"] = suite("exec_s")
    m["queries.stages"] = suite("build_stages") + suite("exec_stages")
    m["queries.build_jobs"] = suite("build_jobs")
    m["queries.cpu_s"] = suite("build_cpu_s") + suite("exec_cpu_s")
    m["queries.shuffle_bytes"] = sum(
        suite(f"{k}_shuffle_{d}_bytes") for k in ("build", "exec") for d in ("read", "write")
    )
    m["queries.spill_bytes"] = suite("build_spill_bytes") + suite("exec_spill_bytes")
    m["queries.gc_s"] = suite("build_gc_s") + suite("exec_gc_s")
    for n in names:
        m[f"q.{n}.build_s"] = _med(per[n].get("build_s", []))
        m[f"q.{n}.stages"] = _med(per[n].get("build_stages", [])) + _med(per[n].get("exec_stages", []))
    return m
