"""The traced run's per-layer table: event-log jobs joined to the
benchmark's spans by job group.

Every job submitted inside the traced phase is attributed to the span
whose group it carries. Jobs of a streaming query carry the query's run
id (Spark sets it), which the listener saw start inside the
``run_stream_foreach_batch`` span. Jobs submitted from the program's
own thread pools carry no group: they stay untagged and are counted in
``spark.untagged_job_frac``, not dropped.
"""

from __future__ import annotations

import eventlog
from workloads import median


def layer_metrics(wl, phase, log_dir: str, app_id: str) -> dict:
    log = eventlog.parse(log_dir, app_id)
    w0, w1 = phase.wall0_ms, phase.wall1_ms
    spans = phase.spans.spans
    groups = {s.name for s in spans}
    run_ids = getattr(getattr(wl, "progress", None), "run_ids", set())
    stream_group = f"{wl.name}:run_stream_foreach_batch"

    check = f"{wl.name}:check"  # the benchmark's own output checks
    jobs = []
    for j in eventlog.within(log.jobs, w0, w1):
        if j.group in run_ids:
            j.group = stream_group
        elif j.group not in groups:
            j.group = None
        if j.group != check:
            jobs.append(j)
    n_ops = max(1, phase.ops)
    # driver gap inside the program's calls: each top-level span's wall
    # time during which none of the jobs was running
    gap = sum(
        eventlog.gap_ms(jobs, s.wall_start_ms, s.wall_end_ms)
        for s in spans
        if s.parent is None and s.name != check
    )
    out = {
        "spark.jobs": (len(jobs) / n_ops, "count"),
        "spark.tasks": (sum(j.tasks for j in jobs) / n_ops, "count"),
        "spark.executor_run_s": (sum(j.run_ms for j in jobs) / 1000 / n_ops, "s"),
        "spark.driver_gap_s": (gap / 1000 / n_ops, "s"),
        "spark.shuffle_bytes": (sum(j.shuffle_bytes for j in jobs) / n_ops, "bytes"),
        "spark.spill_bytes": (sum(j.spill_bytes for j in jobs) / n_ops, "bytes"),
        "spark.untagged_job_frac": (
            sum(j.group is None for j in jobs) / max(1, len(jobs)),
            "ratio",
        ),
    }

    def in_span(name: str):
        """(span, its jobs) for every span of ``<workload>:<name>``."""
        group = f"{wl.name}:{name}"
        for s in spans:
            if s.name == group:
                yield s, [
                    j
                    for j in jobs
                    if j.group == group
                    and s.wall_start_ms <= j.submit_ms <= s.wall_end_ms
                ]

    if wl.name == "train":
        iters, py, arrow, gaps = [], [], [], []
        for s, js in in_span("fit"):
            # the iteration loop: from the end of the last set-up job to
            # the end of the last per-iteration loss collect (adaptive
            # execution runs each collect as several jobs)
            loop = [j for j in js if j.call_site.startswith("collect at")
                    and "trainer.py" in j.call_site]
            if loop:
                before = [j.end_ms for j in js if j.job_id < loop[0].job_id]
                start = max(before) if before else s.wall_start_ms
                n_iter = wl.GLOVE["iterations"]
                iters.append((loop[-1].end_ms - start) / 1000 / n_iter)
            py.append(sum(j.python_ms for j in js) / 1000)
            arrow.append(sum(j.arrow_bytes for j in js))
            gaps.append(eventlog.gap_ms(js, s.wall_start_ms, s.wall_end_ms) / 1000)
        shuffle, spill = [], []
        for _, js in in_span("build_cooccurrence"):
            shuffle.append(sum(j.shuffle_bytes for j in js))
            spill.append(sum(j.spill_bytes for j in js))
        out.update({
            "trainer.iter_s": (median(iters), "s"),
            "trainer.python_worker_s": (median(py), "s"),
            "trainer.arrow_bytes": (median(arrow), "bytes"),
            "trainer.driver_gap_s": (median(gaps), "s"),
            "cooccurrence.shuffle_bytes": (median(shuffle), "bytes"),
            "cooccurrence.spill_bytes": (median(spill), "bytes"),
        })
        read, gaps, batches = 0.0, [], 0
        for s, js in in_span("ivf_probe_index"):
            batches += 1
            for ex in {j.execution for j in js if j.execution is not None}:
                read += log.driver_metrics.get(ex, {}).get(eventlog.PARTS_READ, 0.0)
            gaps.append(eventlog.gap_ms(js, s.wall_start_ms, s.wall_end_ms) / 1000)
        out.update({
            "ann.lists_read_frac": (read / max(1, batches * wl.N_LISTS), "ratio"),
            "ann.driver_gap_s": (median(gaps), "s"),
        })
    elif wl.name == "ingest":
        per_epoch = [sum(j.shuffle_bytes for j in js) for _, js in in_span("_curate_epoch")]
        out["dedup.shuffle_bytes"] = (median(per_epoch), "bytes")
    return out
