"""Per-layer metrics of a traced run.

Every traced invocation has an `invocation` span with child spans
`build`, `plan`, `exec` and `count`, all sharing the invocation id. Jobs
are children of the phase named by the local property they were
submitted under; a job submitted from a thread that did not inherit it is
placed in the phase whose span contains its start. Stages and tasks
belong to their job. The `count` phase exists only to time `count()`
against the `noop` write; its jobs are left out of every other layer.

Each metric is the median over traced passes of that pass's total.
"""
from stats import median, self_time

MODULES = ("lsvi ops io geo text dedup similarity curation pipelines ml "
           "streaming").split()
PHASES = ("build", "plan", "exec")
BYTE_KEYS = {"shuffle.write_bytes": "shuffle_write_bytes",
             "shuffle.read_bytes": "shuffle_read_bytes",
             "spill.bytes": "spill_bytes",
             "input.bytes": "input_bytes",
             "output.bytes": "output_bytes"}


def _phase_of_job(job, phase_spans):
    """(invocation id, phase) of a job, or None."""
    if job.get("span"):
        inv, phase = job["span"].split("/")
        return int(inv), phase
    t = job["start_ms"] * 1_000_000
    for (inv, phase), (lo, hi) in phase_spans.items():
        if lo <= t <= hi:
            return inv, phase
    return None


def _pass_metrics(invs, spans, jobs, stages, modules):
    ids = {i["inv"] for i in invs}
    phase_spans = {(s["inv"], s["name"]): (s["start_ns"], s["end_ns"])
                   for s in spans if s["inv"] in ids and s["parent"]}
    by_phase = {}
    for j in jobs:
        key = _phase_of_job(j, phase_spans)
        if key is not None:
            by_phase.setdefault(key, []).append(j)
    stage_phase = {}
    for key, js in by_phase.items():
        for j in js:
            for s in j["stages"]:
                stage_phase[s] = key
    m = {}
    for ph in PHASES:
        m[f"{ph}.s"] = sum(i[f"{ph}_s"] for i in invs)
        m[f"{ph}.jobs"] = sum(len(by_phase.get((i["inv"], ph), []))
                              for i in invs)
        gaps = 0.0
        for i in invs:
            lo, hi = phase_spans[(i["inv"], ph)]
            job_iv = [(j["start_ms"] * 1_000_000, j["end_ms"] * 1_000_000)
                      for j in by_phase.get((i["inv"], ph), [])]
            gaps += self_time(lo, hi, job_iv) / 1e9
        m[f"{ph}.driver_gap_s"] = gaps
    for k, name in (("analysis", "analysis_s"), ("optimization", "optimization_s"),
                    ("planning", "physical_s")):
        m[f"plan.{name}"] = sum(i["tracker_ms"].get(k, 0) for i in invs) / 1e3
    st = [s for s in stages if s["stage"] in stage_phase
          and stage_phase[s["stage"]][1] != "count"]
    m["stage.count"] = len(st)
    m["task.count"] = sum(s["tasks"] for s in st)
    m["task.run_s"] = sum(s["run_ms"] for s in st) / 1e3
    m["task.cpu_s"] = sum(s["cpu_ns"] for s in st) / 1e9
    m["task.gc_s"] = sum(s["gc_ms"] for s in st) / 1e3
    m["task.skew"] = max([s["task_max_ms"] / s["task_median_ms"] for s in st
                          if s.get("task_median_ms") and s["tasks"] > 1],
                         default=1.0)
    for metric, key in BYTE_KEYS.items():
        m[metric] = sum(s[key] for s in st)
    m["count.s"] = sum(i["count_s"] for i in invs)
    m["count.blind_spot_s"] = sum(i["exec_s"] - i["count_s"] for i in invs)
    jobs_of = {}
    for (inv, ph), js in by_phase.items():
        if ph != "count":
            jobs_of[inv] = jobs_of.get(inv, 0) + len(js)
    for mod in MODULES:
        mine = [i for i in invs if modules[i["query"]] == mod]
        m[f"{mod}.s"] = sum(i["wall_s"] for i in mine)
        m[f"{mod}.jobs"] = sum(jobs_of.get(i["inv"], 0) for i in mine)
    return m


def per_layer(doc, modules):
    """Per-layer metrics of a traced run (see the module docstring)."""
    traced = [p for p in doc["passes"] if p["traced"]]
    untraced = [p for p in doc["passes"] if not p["traced"]]
    rows = []
    for p in traced:
        invs = [i for i in doc["invocations"] if i["pass"] == p["pass"]]
        if not all(i["ok"] for i in invs):
            continue
        jobs = [j for j in doc["jobs"] if j["pass"] == p["pass"]]
        m = _pass_metrics(invs, doc["spans"], jobs, doc["stages"], modules)
        m["broadcast.max_bytes"] = max(
            [r["broadcast_bytes"] for r in doc["queries_traced"]
             if r["pass"] == p["pass"]], default=0)
        # the traced pass without its count phases against an untraced pass
        m["_traced_wall_s"] = p["wall_s"] - m["count.s"]
        rows.append(m)
    out = {k: median([r[k] for r in rows]) for k in rows[0] if not k.startswith("_")}
    out["trace.overhead_frac"] = (
        median([r["_traced_wall_s"] for r in rows])
        / median([p["wall_s"] for p in untraced]) - 1.0)
    first = [i for i in doc["invocations"] if i["pass"] == 0 and i["ok"]]
    out["cold.build_s"] = sum(i["build_s"] for i in first)
    return out
