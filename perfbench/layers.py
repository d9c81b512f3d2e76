"""Metrics from a runner result: end-to-end numbers for the untraced run,
per-layer numbers (self times from the spans, counters from the listener
events) for the traced run, and the counter sanity checks.

Self times partition each traced statement's wall time: route, dml,
optimize, plan, codegen compile, Spark jobs (union of job intervals),
render, search/sort, csv and arrow each take the time of their span minus
the nested layers inside it, and what is left is `other_s`.
"""
import statistics
from collections import defaultdict

CHILD_LAYERS = {"route": "route_s", "dml": "dml_self_s", "page": "render_s",
                "search_sort": "search_sort_s", "csv": "csv_s", "arrow": "arrow_s"}
DML_KINDS = ("insert", "update", "delete", "merge", "upsert")


def quantile(values, q):
    """Linear-interpolated quantile of a non-empty sample."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_q(n):
    """p90, or the highest percentile with at least 10 samples beyond it."""
    return max(0.5, min(0.9, 1 - 10 / n))


def spans_of(rec):
    return {s["name"]: s for s in rec["spans"]}


def page_latencies(steps):
    """Statement text to rendered first page: Engine.sql + Render.tableToRows."""
    out = []
    for r in steps:
        sp = spans_of(r)
        if r["ok"] and "page" in sp:
            out.append(sp["route"]["s"] + sp["page"]["s"])
    return out


def median_setup(result, key):
    return statistics.median(s[key] for s in result["setups"])


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def codegen_sanity(wl, result):
    """Compile counts against what the cache size predicts."""
    out = []
    steps = [r for r in result["steps"] if r["ok"]]
    if not steps:
        return out
    compiles = [spans_of(r)["statement"]["compiles"] for r in steps]
    default_cache = str(result["config"]["codegen_cache_max_entries"]) == "100"
    if wl.name == "explore" and default_cache and statistics.mean(compiles) < 1:
        out.append(f"explore compiled {statistics.mean(compiles):.2f} classes per statement"
                   " at the default codegen cache size; expected well above zero")
    if wl.name == "report":
        tmpl = [spans_of(r)["statement"]["compiles"] for r in steps
                if not r["id"].startswith("drill")]
        if tmpl and statistics.mean(tmpl) > 0.5:
            out.append(f"warm report templates compiled {statistics.mean(tmpl):.2f} classes"
                       " per page; expected near zero")
    return out


def end_to_end(wl, spec, result, verdicts):
    pages = page_latencies(result["steps"])
    metrics = {
        "setup_s": metric(median_setup(result, "setup_s"), "s"),
        "page_p50_s": metric(statistics.median(pages), "s"),
        "page_p90_s": metric(quantile(pages, tail_q(len(pages))), "s"),
        "stmts_per_s": metric(len(result["steps"]) / result["loop_s"], "1/s"),
    }
    return metrics, codegen_sanity(wl, result)


def details(result, verdicts):
    """The user-level numbers that are not gated, for the summary."""
    d = user_level(result, verdicts)
    pages = page_latencies(result["steps"])
    d["page_samples"] = len(pages)
    d["page_tail_quantile"] = tail_q(len(pages))
    return " ".join(f"{k}={v:.6g}" for k, v in d.items())


def user_level(result, verdicts):
    steps = result["steps"]
    csv_rows = csv_s = arrow_rows = arrow_s = 0
    dml = []
    for r in steps:
        sp = spans_of(r)
        if r["ok"] and "csv" in sp:
            csv_rows += r["csv_rows"]
            csv_s += sp["csv"]["s"]
            arrow_rows += r["page"]["total"]
            arrow_s += sp["arrow"]["s"]
        if r["ok"] and "dml" in sp:
            dml.append(sp["dml"]["s"])
    return {
        "csv_rows_per_s": csv_rows / csv_s if csv_s else 0.0,
        "arrow_rows_per_s": arrow_rows / arrow_s if arrow_s else 0.0,
        "dml_p50_s": statistics.median(dml) if dml else 0.0,
        "dml_p90_s": quantile(dml, tail_q(len(dml))) if dml else 0.0,
        "failed_frac": sum(1 for _id, v in verdicts if v) / max(1, len(verdicts)),
        "live_heap_mb": result["live_heap_mb"],
        "metaspace_mb": result["metaspace_mb"],
    }


# -- traced run -----------------------------------------------------------------

def _union_s(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def _inside(t, span):
    return span["start_ms"] <= t <= span["end_ms"]


def attribute(result):
    """Per traced statement: its spans, jobs (by job group), stages, tasks
    and query phases (by time)."""
    ev = defaultdict(list)
    for e in result["trace_events"]:
        ev[e["ev"]].append(e)
    job_end = {e["job"]: e["ms"] for e in ev["job_end"]}
    stages = {}
    for s in ev["stage"]:
        stages[(s["stage"], s["attempt"])] = s
    tasks = defaultdict(list)
    for t in ev["task"]:
        tasks[t["stage"]].append(t)
    by_stmt = defaultdict(list)
    for j in ev["job_start"]:
        if j["group"] and j["group"].startswith("stmt-"):
            j["end_ms"] = job_end.get(j["job"], j["ms"])
            by_stmt[int(j["group"][5:])].append(j)
    queries = ev["query"]
    out = []
    for r in result["steps"]:
        if not r["traced"]:
            continue
        sp = spans_of(r)
        stmt = sp["statement"]
        jobs = by_stmt.get(r["i"], [])
        st = [s for j in jobs for (sid, _a), s in stages.items() if sid in j["stages"]]
        tk = [t for j in jobs for sid in j["stages"] for t in tasks.get(sid, [])]
        phases = [(name, a, b) for q in queries for name, (a, b) in q["phases"].items()
                  if _inside(a, stmt)]
        qs = [q for q in queries if any(_inside(a, stmt) for a, _b in q["phases"].values())]
        out.append({"rec": r, "spans": sp, "jobs": jobs, "stages": st, "tasks": tk,
                    "phases": phases, "queries": qs})
    return out


def self_times(a):
    """Layer -> self seconds for one attributed statement; the values sum to
    the statement's wall time. Codegen compiles can run inside Spark tasks
    (same JVM in local mode), where they are already part of the job wall;
    the partition counts compile time only up to what the span has left
    outside its jobs and query phases."""
    sp, layers = a["spans"], defaultdict(float)
    for name, child in sp.items():
        if name == "statement":
            continue
        jobs = _union_s([(j["ms"], j["end_ms"]) for j in a["jobs"] if _inside(j["ms"], child)])
        opt = sum(b - c for n, c, b in a["phases"]
                  if n == "optimization" and _inside(c, child)) / 1000.0
        plan = sum(b - c for n, c, b in a["phases"]
                   if n == "planning" and _inside(c, child)) / 1000.0
        codegen = max(0.0, min(child["compile_s"], child["s"] - jobs - opt - plan))
        layers[CHILD_LAYERS[name]] += child["s"] - jobs - opt - plan - codegen
        layers["job_wall_s"] += jobs
        layers["optimize_s"] += opt
        layers["plan_s"] += plan
        layers["codegen_self_s"] += codegen
    layers["other_s"] = sp["statement"]["s"] - sum(layers.values())
    return layers


def spans(result):
    """Every span of the traced statements: statement, its child calls,
    jobs, stages and tasks, each with a name, start, end and parent."""
    out = []
    for a in attribute(result):
        i = a["rec"]["i"]
        sid = f"s{i}"
        stmt = a["spans"]["statement"]
        out.append({"id": sid, "parent": None, "name": f"statement:{a['rec']['id']}",
                    "start_ms": stmt["start_ms"], "end_ms": stmt["end_ms"], "s": stmt["s"]})
        children = [(n, c) for n, c in a["spans"].items() if n != "statement"]
        for n, c in children:
            out.append({"id": f"{sid}.{n}", "parent": sid, "name": n,
                        "start_ms": c["start_ms"], "end_ms": c["end_ms"], "s": c["s"]})
        for j in a["jobs"]:
            parent = next((f"{sid}.{n}" for n, c in children if _inside(j["ms"], c)), sid)
            jid = f"job{j['job']}"
            out.append({"id": jid, "parent": parent, "name": "job",
                        "start_ms": j["ms"], "end_ms": j["end_ms"]})
            for s in a["stages"]:
                if s["stage"] in j["stages"]:
                    out.append({"id": f"stage{s['stage']}", "parent": jid,
                                "name": "stage", "attempt": s["attempt"],
                                "start_ms": s["start_ms"], "end_ms": s["end_ms"]})
        for t in a["tasks"]:
            out.append({"id": None, "parent": f"stage{t['stage']}", "name": "task",
                        "start_ms": t["start_ms"], "end_ms": t["end_ms"]})
    return out


def per_layer(wl, spec, result, verdicts):
    att = attribute(result)
    n = max(1, len(att))
    sums = defaultdict(float)
    warnings = codegen_sanity(wl, result)
    pages = dmls = exports = 0
    render_jobs = render_queries = 0
    rows_returned = changed = dml_jobs = 0
    dml_out_rows = dml_out_bytes = 0
    for a in att:
        sp, r = a["spans"], a["rec"]
        st = self_times(a)
        for k, v in st.items():
            sums[k] += v
        wall = sp["statement"]["s"]
        sums["stmt_wall_s"] += wall
        if st["other_s"] < -0.05 * wall - 0.002:
            warnings.append(f"step {r['i']} ({r['id']}): layers exceed wall by "
                            f"{-st['other_s']:.4f}s (double counting)")
        sums["codegen_compiles"] += sp["statement"]["compiles"]
        sums["codegen_compile_s"] += sp["statement"]["compile_s"]
        sums["jobs"] += len(a["jobs"])
        sums["stages"] += len(a["stages"])
        sums["tasks"] += len(a["tasks"])
        for t in a["tasks"]:
            sums["task_run_s"] += t.get("run_ms", 0) / 1000.0
            sums["task_cpu_s"] += t.get("cpu_ns", 0) / 1e9
            sums["gc_s"] += t.get("gc_ms", 0) / 1000.0
            sums["input_bytes"] += t.get("in_bytes", 0)
            sums["in_rows"] += t.get("in_rows", 0)
            sums["shuffle_write_bytes"] += t.get("shuffle_w", 0)
            sums["spill_bytes"] += t.get("spill", 0)
            sums["task_busy_s"] += (t["end_ms"] - t["start_ms"]) / 1000.0
        if "route" in sp:
            sums["route_driver_cpu_s"] += sp["route"]["cpu_s"]
        if "page" in sp:
            pages += 1
            render_jobs += sum(1 for j in a["jobs"] if _inside(j["ms"], sp["page"]))
            render_queries += sum(1 for q in a["queries"] if _inside(
                min(p[0] for p in q["phases"].values()), sp["page"]))
            rows_returned += len(r["page"]["rows"])
        if "csv" in sp:
            exports += 1
            sums["csv_driver_cpu_s"] += sp["csv"]["cpu_s"]
            sums["csv_bytes"] += r.get("csv_bytes", 0)
            sums["arrow_bytes"] += r.get("arrow_bytes", 0)
            rows_returned += 2 * r.get("csv_rows", 0)
        if "dml" in sp:
            dmls += 1
            dml_jobs += len(a["jobs"])
            dml_out_rows += sum(t.get("out_rows", 0) for t in a["tasks"])
            dml_out_bytes += sum(t.get("out_bytes", 0) for t in a["tasks"])
            changed += r.get("changed", 0)
    if pages and render_queries != 2 * pages:
        warnings.append(f"render ran {render_queries / pages:.2f} queries per page; "
                        "expected 2 (count + limit-collect)")

    user = user_level(result, verdicts)
    traced_pages = page_latencies(result["steps"])
    m = {k: metric(median_setup(result, k), "s")
         for k in ("session_start_s", "import_s", "warm_s")}
    per_stmt_s = ["route_s", "route_driver_cpu_s", "optimize_s", "plan_s",
                  "codegen_compile_s", "codegen_self_s", "job_wall_s", "task_run_s",
                  "task_cpu_s", "gc_s", "render_s", "search_sort_s", "csv_s",
                  "csv_driver_cpu_s", "arrow_s", "dml_self_s", "other_s", "stmt_wall_s"]
    for k in per_stmt_s:
        m[k] = metric(sums[k] / n, "s")
    for k in ("codegen_compiles", "jobs", "stages", "tasks"):
        m[k] = metric(sums[k] / n, "count")
    m["tasks_per_stage"] = metric(sums["tasks"] / max(1, sums["stages"]), "count")
    m["core_busy_frac"] = metric(
        sums["task_busy_s"] / max(1e-9, sums["job_wall_s"] * spec["cpus"]), "ratio")
    for k in ("input_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[k] = metric(sums[k] / n, "B")
    m["rows_read_per_row_returned"] = metric(sums["in_rows"] / max(1, rows_returned), "ratio")
    m["render_jobs"] = metric(render_jobs / max(1, pages), "count")
    m["render_queries"] = metric(render_queries / max(1, pages), "count")
    m["csv_bytes"] = metric(sums["csv_bytes"] / max(1, exports), "B")
    m["arrow_bytes"] = metric(sums["arrow_bytes"] / max(1, exports), "B")
    m["csv_rows_per_s"] = metric(user["csv_rows_per_s"], "rows/s")
    m["arrow_rows_per_s"] = metric(user["arrow_rows_per_s"], "rows/s")
    for kind in DML_KINDS:
        lat = [spans_of(r)["dml"]["s"] for r in result["steps"] if r["ok"] and r["id"] == kind]
        m[f"dml.{kind}_s"] = metric(statistics.mean(lat) if lat else 0.0, "s")
    m["dml_p50_s"] = metric(user["dml_p50_s"], "s")
    m["dml_p90_s"] = metric(user["dml_p90_s"], "s")
    m["dml_jobs"] = metric(dml_jobs / max(1, dmls), "count")
    m["rows_written"] = metric(dml_out_rows / max(1, dmls), "count")
    m["bytes_written"] = metric(dml_out_bytes / max(1, dmls), "B")
    m["write_amp_rows"] = metric(dml_out_rows / changed if changed else 0.0, "ratio")
    m["failed_frac"] = metric(user["failed_frac"], "ratio")
    m["live_heap_mb"] = metric(user["live_heap_mb"], "MB")
    m["metaspace_mb"] = metric(user["metaspace_mb"], "MB")
    m["traced_page_p50_s"] = metric(statistics.median(traced_pages), "s")
    m["traced_stmts_per_s"] = metric(len(result["steps"]) / result["loop_s"], "1/s")
    return m, warnings
