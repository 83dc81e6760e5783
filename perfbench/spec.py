"""What the benchmark reports: its workloads and metrics, by name and
unit. ``BENCHMARK.json`` at the repository root is generated from here
(``python3 perfbench/run.py --write-spec``), so the two cannot drift."""

from __future__ import annotations

import json

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 10

WORKLOADS = [
    (
        "train",
        "GloVe vocabulary, co-occurrence, fit and synonyms, then the vectors "
        "served through an IVF index: per-iteration Python/Arrow kernels, "
        "driver barriers and per-job cost",
    ),
    (
        "ingest",
        "streaming curate of a firehose with planted near-duplicates: MinHash "
        "band joins against growing history and 4 txlog commits per epoch",
    ),
]

# (name, unit, better, bound): reported on every workload, tracing off
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("run_s", "s", "lower", 0.24),
    ("throughput_per_s", "1/s", "higher", 0.24),
]

# (name, unit, better): reported on every workload by the traced run; a
# layer a workload never calls reads 0 there. Times of such layers go in
# as fractions of their parent (FRACTIONS), so that no time reads 0 on
# every run of the other workload; the printed table has the seconds.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("trainer.vocab_frac", "ratio", "lower"),
    ("trainer.fit_frac", "ratio", "lower"),
    ("trainer.iter_frac", "ratio", "lower"),
    ("trainer.jobs_per_fit", "count", "lower"),
    ("trainer.python_worker_frac", "ratio", "lower"),
    ("trainer.arrow_bytes", "bytes", "lower"),
    ("trainer.driver_gap_frac", "ratio", "lower"),
    ("trainer.synonyms_frac", "ratio", "lower"),
    ("cooccurrence.build_frac", "ratio", "lower"),
    ("cooccurrence.entries", "count", "higher"),
    ("cooccurrence.shuffle_bytes", "bytes", "lower"),
    ("cooccurrence.spill_bytes", "bytes", "lower"),
    ("streaming.addbatch_frac", "ratio", "lower"),
    ("streaming.trigger_overhead_frac", "ratio", "lower"),
    ("streaming.epochs", "count", "higher"),
    ("dedup.kept_frac", "ratio", "higher"),
    ("dedup.shuffle_bytes", "bytes", "lower"),
    ("txlog.commits", "count", "lower"),
    ("txlog.files_written", "count", "lower"),
    ("txlog.bytes_written", "bytes", "lower"),
    ("txlog.replay_noop_frac", "ratio", "lower"),
    ("txlog.read_frac", "ratio", "lower"),
    ("txlog.epoch_growth", "ratio", "lower"),
    ("ann.index_build_frac", "ratio", "lower"),
    ("ann.batch_frac", "ratio", "lower"),
    ("ann.index_files", "count", "lower"),
    ("ann.jobs_per_batch", "count", "lower"),
    ("ann.lists_read_frac", "ratio", "lower"),
    ("ann.driver_gap_frac", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.untagged_job_frac", "ratio", "lower"),
    ("spark.speedup_vs_1core", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
]

# fraction name -> (seconds metric, the parent it is a fraction of)
FRACTIONS = {
    "trainer.vocab_frac": ("trainer.vocab_s", "run_s"),
    "trainer.fit_frac": ("trainer.fit_s", "run_s"),
    "trainer.iter_frac": ("trainer.iter_s", "trainer.fit_s"),
    "trainer.python_worker_frac": ("trainer.python_worker_s", "trainer.fit_s"),
    "trainer.driver_gap_frac": ("trainer.driver_gap_s", "trainer.fit_s"),
    "trainer.synonyms_frac": ("trainer.synonyms_s", "run_s"),
    "cooccurrence.build_frac": ("cooccurrence.build_s", "run_s"),
    "streaming.addbatch_frac": ("streaming.addbatch_s", "epoch_p50_s"),
    "streaming.trigger_overhead_frac": (
        "streaming.trigger_overhead_s",
        "epoch_p50_s",
    ),
    "txlog.replay_noop_frac": ("txlog.replay_noop_s", "epoch_p50_s"),
    "txlog.read_frac": ("txlog.read_s", "run_s"),
    "ann.index_build_frac": ("ann.index_build_s", "run_s"),
    "ann.batch_frac": ("ann.batch_s", "run_s"),
    "ann.driver_gap_frac": ("ann.driver_gap_s", "ann.batch_s"),
}


def benchmark_json() -> str:
    spec = {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER
        ],
    }
    return json.dumps(spec, indent=2) + "\n"
