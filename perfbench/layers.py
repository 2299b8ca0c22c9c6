"""Fold repetitions into the printed metrics: end-to-end metrics from the
untraced repetitions, per-layer metrics from the traced ones."""

from __future__ import annotations

from tracing import EventLog, Tracer, median
from workloads import QUERY_IDS

MIB = float(1 << 20)

LAYER_UNITS = {
    "manifest.walk_s": "s",
    "manifest.jobs": "count",
    "manifest.tasks": "count",
    "manifest.rows": "count",
    "manifest.tasks_per_dir": "ratio",
    "plan.plan_s": "s",
    "plan.jobs": "count",
    "plan.tasks": "count",
    "plan.bin_imbalance": "ratio",
    "exec.stage_s": "s",
    "exec.busy_core_s": "s",
    "exec.ms_per_file": "ms",
    "exec.straggler_ratio": "ratio",
    "exec.executed": "count",
    "exec.skipped": "count",
    "exec.failed": "count",
    "distexec.rest_s": "s",
    "sync.sync_s": "s",
    "sync.jobs": "count",
    "sync.tasks": "count",
    "sync.deleted": "count",
    "cli.main_s": "s",
    "cli.metrics_s": "s",
    **{
        f"query.{q}.{m}": u
        for q in QUERY_IDS
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    },
    "query.leaked_rdds": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.busy_core_s": "s",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mib": "MiB",
    "spark.spill_mib": "MiB",
    "process.peak_rss_mib": "MiB",
    "trace.run_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(reps: list[dict], setup_s: float, inputs: dict) -> dict:
    run_s = median(r["run_s"] for r in reps)
    return {
        "setup_s": _metric(setup_s, "s"),
        "run_s": _metric(run_s, "s"),
        "cpu_s": _metric(median(r["cpu_s"] for r in reps), "s"),
        "files_per_s": _metric(inputs["files"] / run_s, "1/s"),
        "mib_per_s": _metric(inputs["bytes"] / MIB / run_s, "MiB/s"),
    }


def _named(span, name: str) -> list:
    return [s for s in span.walk() if s.name == name]


def _counts(spans) -> tuple[int, int]:
    """(jobs, tasks) summed over spans, each including its children."""
    pairs = [Tracer.counts(s) for s in spans]
    return sum(j for j, _ in pairs), sum(t for _, t in pairs)


def _exec_job(log: EventLog, tail) -> tuple:
    """The job that runs the child commands and writes the results ledger:
    the longest job distexec launches after planning returns. Returns it
    and the tasks of its last stage, one task per bin."""
    jobs = [log.jobs[j] for j in tail.jobs if j in log.jobs]
    if not jobs:
        return None, []
    job = max(jobs, key=lambda j: j.complete - j.submit)
    tasks = log.tasks_of([job.job])
    last = max((t.stage for t in tasks), default=None)
    return job, [t for t in tasks if t.stage == last]


def rep_layers(rep: dict, log: EventLog, cores: int) -> dict:
    span, inp = rep["span"], rep["layers"]
    m: dict[str, float] = {}

    manifests = _named(span, "manifest")
    m["manifest.walk_s"] = sum(s.seconds for s in manifests)
    m["manifest.jobs"], m["manifest.tasks"] = _counts(manifests)
    m["manifest.rows"] = inp["manifest_rows"]
    m["manifest.tasks_per_dir"] = m["manifest.tasks"] / inp["manifest_dirs"] if inp["manifest_dirs"] else 0.0

    plans = _named(span, "plan")
    m["plan.plan_s"] = sum(s.seconds for s in plans)
    m["plan.jobs"], m["plan.tasks"] = _counts(plans)
    ratios = [max(b) / (sum(b) / len(b)) for b in inp["bins"] if b and sum(b)]
    m["plan.bin_imbalance"] = max(ratios, default=0.0)

    stage_s = busy_ms = result_ms = rest_s = 0.0
    stragglers = []
    for d in _named(span, "distexec"):
        own_s = 0.0
        for tail in (c for c in d.children if c.name == "exec"):
            job, last = _exec_job(log, tail)
            if job is None:
                continue
            own_s += (job.complete - job.submit) / 1000.0
            busy_ms += sum(t.run_ms for t in log.tasks_of([job.job]))
            result_ms += sum(t.run_ms for t in last)
            runs = [t.run_ms for t in last]
            if runs and median(runs) > 0:
                stragglers.append(max(runs) / median(runs))
        stage_s += own_s
        rest_s += d.seconds - own_s - sum(c.seconds for c in d.children if c.name in ("manifest", "plan"))
    status = inp["status"]
    handled = sum(status.values())
    m["exec.stage_s"] = stage_s
    m["exec.busy_core_s"] = busy_ms / 1000.0
    m["exec.ms_per_file"] = result_ms / handled if handled else 0.0
    m["exec.straggler_ratio"] = max(stragglers, default=0.0)
    m["exec.executed"] = status.get("EXECUTED", 0)
    m["exec.skipped"] = status.get("SKIPPED", 0)
    m["exec.failed"] = status.get("FAIL", 0)
    m["distexec.rest_s"] = rest_s

    syncs = _named(span, "sync")
    m["sync.sync_s"] = sum(s.seconds for s in syncs)
    m["sync.jobs"], m["sync.tasks"] = _counts(syncs)
    m["sync.deleted"] = inp["deleted"]
    m["cli.main_s"] = sum(s.seconds for s in _named(span, "cli"))
    m["cli.metrics_s"] = sum(s.seconds for n in ("metrics", "cli.metrics") for s in _named(span, n))

    for q in QUERY_IDS:
        build, ex = _named(span, f"query.{q}.build"), _named(span, f"query.{q}.exec")
        m[f"query.{q}.build_s"] = sum(s.seconds for s in build)
        m[f"query.{q}.exec_s"] = sum(s.seconds for s in ex)
        m[f"query.{q}.jobs"] = sum(Tracer.counts(s)[0] for s in build + ex)
    m["query.leaked_rdds"] = rep["leaked_rdds"]

    tasks = log.tasks_of(span.all_jobs())
    m["spark.jobs"], m["spark.tasks"] = Tracer.counts(span)
    m["spark.busy_core_s"] = sum(t.run_ms for t in tasks) / 1000.0
    m["spark.core_util"] = m["spark.busy_core_s"] / (cores * span.seconds)
    m["spark.gc_s"] = sum(t.gc_ms for t in tasks) / 1000.0
    m["spark.shuffle_write_mib"] = sum(t.shuffle_write for t in tasks) / MIB
    m["spark.spill_mib"] = sum(t.spill for t in tasks) / MIB
    m["trace.run_s"] = span.seconds
    return m


def per_layer(traced: list[dict], untraced: list[dict], log_path: str, cores: int) -> dict:
    log = EventLog(log_path)
    per_rep = [rep_layers(r, log, cores) for r in traced]
    out = {
        name: _metric(median(r[name] for r in per_rep), unit)
        for name, unit in LAYER_UNITS.items()
        if name not in ("trace.overhead_ratio", "process.peak_rss_mib")
    }
    out["process.peak_rss_mib"] = _metric(max(r["peak_rss_mib"] for r in traced), "MiB")
    # both halves run with the event log on: it can only be switched when
    # the JVM starts, so the ratio is the cost of the wrappers, their job
    # groups and the memory sampler, not of the event log
    out["trace.overhead_ratio"] = _metric(
        median(r["run_s"] for r in traced) / median(r["run_s"] for r in untraced), "ratio"
    )
    return out
