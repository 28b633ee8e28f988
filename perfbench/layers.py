"""Per-layer metrics of a traced run, named after pqc's modules.

``report`` turns the traced pass's spans and their event-log roll-up
into two things: the per-layer metrics every workload reports (the
last JSON line of a traced run), and a table of the workload's own
layers, printed grouped by module and written next to the spans.
"""

from __future__ import annotations

from spans import inclusive, job_gap_s, job_time_s, self_times

# Common to every workload: (name, unit). Values come from the traced
# pass unless noted.
COMMON = (
    ("session.start_s", "s"),  # set-up: process start (imports, JVM launch) to session
    ("fixtures.load_s", "s"),  # set-up: fixture load
    ("warmup_s", "s"),  # set-up: the warm-up passes
    ("process.peak_rss_mb", "MB"),  # whole run: JVM plus Python processes
    ("trace.overhead_s", "s"),  # traced pass wall - mean of the untraced passes around it
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.core_util", "ratio"),  # executor run time / (wall x cores)
    ("spark.job_busy_s", "s"),  # pass time with at least one Spark job running
    ("driver.gap_s", "s"),  # pass time with no Spark job running
)


def _children(spans, sid):
    return [s for s in spans if s.parent == sid]


def report(wl, spans, stats, root, cores, probes, digest, overhead_s, setup):
    pass_span = spans[root]
    inc = inclusive(stats, spans, root)
    values = {
        **setup,
        "trace.overhead_s": overhead_s,
        "spark.jobs": inc.jobs,
        "spark.stages": inc.stages,
        "spark.tasks": inc.tasks,
        "spark.executor_run_s": inc.executor_run_s,
        "spark.executor_cpu_s": inc.executor_cpu_s,
        "spark.gc_s": inc.gc_s,
        "spark.shuffle_write_mb": inc.shuffle_write_mb,
        "spark.core_util": inc.executor_run_s / (pass_span.dur * cores),
        "spark.job_busy_s": job_time_s(pass_span, inc),
        "driver.gap_s": job_gap_s(pass_span, inc),
    }
    common = {name: {"value": values[name], "unit": unit} for name, unit in COMMON}

    table: dict[str, dict] = {"pass": {"wall_s": pass_span.dur, **{k: values[k] for k, _ in COMMON}}}
    if wl.name == "images_validate":
        table.update(_images(spans, stats, root, probes, digest))
    else:
        table.update(_band(spans, stats, root, cores, probes))

    for module, rows in table.items():
        print(f"== {wl.name} layers: {module}")
        for k, v in rows.items():
            print(f"  {module}.{k:<34} {v:>14.4f}" if isinstance(v, float)
                  else f"  {module}.{k:<34} {v!s:>14}")
    return common, table


def _images(spans, stats, root, probes, digest):
    kids = {s.name: s for s in _children(spans, root)}
    selfs = self_times(spans)
    rwr = kids["ledger.run_with_resume"]
    rwr_stats = inclusive(stats, spans, rwr.sid)

    def in_ledger(site):
        return "ledger.py" in site and site.startswith("collect")

    def is_write(site):
        return site.startswith(("parquet at", "save at"))

    probe = {s.name: s for s in spans if s.pass_id == 2}

    def probe_s(name):
        return probe[name].dur

    island = inclusive(stats, spans, probe["image.decode.island"].sid)
    branch_names = [n for n in probe if n.startswith("constraints.") and n != "constraints.cache"]
    branches_s = probe_s("engine.branches")
    viol = digest["violations_by_constraint"]
    near_dup_name = next((k for k in viol if k.startswith("near_dup:")), None)
    return {
        "ledger": {
            "run_with_resume_s": rwr.dur,
            "fingerprint_s": job_time_s(rwr, rwr_stats, in_ledger),
            "append_s": job_time_s(rwr, rwr_stats, is_write),
            "suite_s": job_time_s(rwr, rwr_stats, lambda s: not in_ledger(s) and not is_write(s)),
            "driver_gap_s": job_gap_s(rwr, rwr_stats),
        },
        "job": {"summary_s": kids["job.summary"].dur},
        "output": {"write_s": kids["output.write"].dur},
        "spans": {
            "covered_s": spans[root].dur - selfs[root],
            "gap_s": selfs[root],
        },
        "image.decode": {
            "island_s": probe_s("image.decode.island"),
            "transfer_s": probe_s("image.decode.transfer"),
            "compute_s": probe_s("image.decode.island") - probe_s("image.decode.transfer"),
            "executor_s": island.executor_run_s,
            "python_stage_s": island.python_run_s,
            "tasks": island.tasks,
            "failures": viol.get("integrity:decode", 0),
        },
        "image.codec": {k.split("image.codec.", 1)[1]: v for k, v in probes.items()
                        if k.startswith("image.codec.")},
        "image.jpeg": {"regen_ms": probes["image.jpeg.regen_ms"]},
        "image.phash": {"ms": probes["image.phash.ms"]},
        "constraints": {n.split(".", 1)[1] + "_s": probe_s(n) for n in branch_names},
        "engine": {
            "branches_s": branches_s,
            "overlap": sum(probe_s(n) for n in branch_names) / branches_s,
            "rollup_s": probe_s("engine.rollup"),
        },
        "near_dup": {
            "hot_buckets": probes["near_dup.hot_buckets"],
            "pairs": viol.get(near_dup_name, 0),
        },
        "text_rules": {"needs_review": viol.get("text:needs_review", 0)},
        **_short(spans, stats, probes),
    }


def _parts(spans, q):
    return {c.name: c.dur for c in _children(spans, q.sid)}


def _probe_group(spans, name):
    return next(s for s in spans if s.pass_id == 2 and s.parent is None and s.name == name)


def _band(spans, stats, root, cores, probes):
    """Per query of the traced pass and of the probes' ``band`` group,
    under its module."""
    out: dict[str, dict] = {}
    timed = _children(spans, root)
    for q in timed + _children(spans, _probe_group(spans, "band").sid):
        module, name = q.name.split(".", 1)
        st = inclusive(stats, spans, q.sid)
        rows = out.setdefault(module, {})
        rows[f"{name}_s"] = q.dur
        rows[f"{name}.build_s"] = _parts(spans, q).get("build", 0.0)
        rows[f"{name}.shuffle_write_mb"] = st.shuffle_write_mb
        rows[f"{name}.spill_mb"] = st.spill_mb
        rows[f"{name}.jobs"] = st.jobs
        rows[f"{name}.tasks"] = st.tasks
        rows[f"{name}.core_util"] = st.executor_run_s / (q.dur * cores)
    out["query"] = {  # the traced pass
        "build_s": sum(_parts(spans, q).get("build", 0.0) for q in timed),
        "action_s": sum(_parts(spans, q).get("action", 0.0) for q in timed),
    }
    for module, rows in _short(spans, stats, probes).items():
        out.setdefault(module, {}).update(rows)
    return out


def _short(spans, stats, probes):
    """The probes' ``short`` group as one layer, plus a time per query
    under its module."""
    short = _probe_group(spans, "short")
    queries = _children(spans, short.sid)
    st = inclusive(stats, spans, short.sid)
    out = {
        "short": {
            "wall_s": short.dur,
            "build_s": sum(_parts(spans, q).get("build", 0.0) for q in queries),
            "action_s": sum(_parts(spans, q).get("action", 0.0) for q in queries),
            "jobs": st.jobs,
            "stages": st.stages,
            "tasks": st.tasks,
        },
        "probes": {"skipped": len(probes["skipped"])},  # past the deadline
    }
    for q in queries:
        module, name = q.name.split(".", 1)
        out.setdefault(module, {})[f"{name}_s"] = q.dur
    return out


SPAN_GAP_MAX = 0.05  # share of the pass the top-level spans may leave uncovered


def span_checks(wl, spans, root):
    """The traced pass's top-level spans must account for its wall time."""
    from workloads import Outcome

    gap = self_times(spans)[root]
    wall = spans[root].dur
    return [Outcome(
        "spans_cover_wall", gap <= SPAN_GAP_MAX * wall,
        f"{wl.name}: spans cover {wall - gap:.3f} of {wall:.3f} s, gap {gap:.3f} s",
    )]
