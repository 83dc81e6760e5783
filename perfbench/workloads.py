"""The two workloads. Each one drives the package only through its
public calls, wraps every call in a span, and checks its outputs.

* ``train``  — build_vocabulary → build_cooccurrence → Glove.fit →
  GloveModel.find_synonyms → ivf_build_index over the trained vectors
  → one ivf_probe_index batch.
* ``ingest`` — stage_ranged_stream → run_stream_foreach_batch over
  ``_curate_epoch`` → re-deliver the last epoch → txlog.read of the
  curated table and its rollup.

One pass through the sequence is one operation. Sizes and the reasons
for them are in ``perfbench/README.md``.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import gen

# --- small helpers ------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it (the
    median when there are too few samples), as (value, percentile, n)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    idx = n - 11
    if idx <= (n - 1) // 2:
        return median(s), 50.0, n
    return float(s[idx]), 100.0 * (idx + 1) / n, n


def _tree_files(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under a table directory."""
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "_txlog" not in f
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    """Base: ``generate`` writes the seeded inputs, ``load`` binds them
    to a session, ``warm_up`` runs a small operation unchecked, ``begin``
    opens a measured phase, ``op`` runs one checked operation and
    returns the problems found (empty when the output is correct). The
    runner sets ``spans`` for each phase."""

    name = ""
    THROUGHPUT = ""  # the end-to-end metric reported as throughput_per_s
    MIN_OPS = 1  # operations a measured phase runs at least

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "inputs")
        self.spark = None
        self.spans = None

    def bind(self, spark) -> None:
        """Attach to a (re)started session."""
        self.spark = spark

    def generate(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        pass

    def warm_up(self) -> None:
        raise NotImplementedError

    def begin(self) -> None:
        self.ops: list[float] = []  # wall time of each operation

    def op(self, check: bool = True) -> list[str]:
        raise NotImplementedError

    def unit_op(self) -> None:
        """Run the traced run's reference unit; sets last_unit_s (op()
        sets it too: the operation's wall, or its median epoch)."""
        raise NotImplementedError

    def run_problems(self) -> list[str]:
        """Checks over a whole measured phase."""
        return []

    def op_note(self) -> str:
        return ""

    def digest(self) -> str:
        """A printed fingerprint of the outputs, to compare runs."""
        return ""

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError

    def per_layer(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError


# --- train --------------------------------------------------------------


class Train(Workload):
    name = "train"
    THROUGHPUT = "fit_pairs_per_s"
    MIN_OPS = 2
    DOCS = gen.DocSpec(n_docs=300, n_types=250)
    GLOVE = dict(dim=16, window=10, iterations=2, seed=42, min_count=5)
    SYNONYM_RANKS = (0, 9)  # Zipf ranks of the find_synonyms query words
    K = 10
    # the trained vectors served through a persisted IVF index
    N_LISTS = 16
    N_PROBE = 2
    PROBES = 4  # vocabulary ids 0..3 form the probe batch
    RECALL_FLOOR = 0.25
    WARM_DOCS = 60  # the warm-up trains on this prefix

    def generate(self) -> None:
        self.manifest = gen.documents(self.seed, self.DOCS, self.data_dir)
        words = self.manifest["words_by_rank"]
        self.words = [words[r] for r in self.SYNONYM_RANKS]

    def load(self) -> None:
        self.docs = self.spark.read.parquet(
            os.path.join(self.data_dir, "documents.parquet")
        )

    def begin(self) -> None:
        super().begin()
        self.losses0: list[float] | None = None
        self.entries: list[int] = []
        self.fit_s: list[float] = []
        self.recalls: list[float] = []
        self.index_files: list[int] = []

    def warm_up(self) -> None:
        """Every code path of an operation, on a small prefix: a cold
        JVM runs the same plans much slower per row."""
        self.op(check=False, n_docs=self.WARM_DOCS)

    def op(self, check=True, n_docs=None) -> list[str]:
        from pyspark.sql import functions as F

        from spark_glove_spark.glove import Glove, GloveConfig
        from spark_glove_spark.glove.trainer import (
            build_cooccurrence,
            build_vocabulary,
        )
        from spark_glove_spark.operators.ann import (
            ivf_build_index,
            ivf_probe_index,
        )

        cfg = GloveConfig(**self.GLOVE)
        sp = self.spans
        index = os.path.join(self.work_dir, "index")
        shutil.rmtree(index, ignore_errors=True)
        docs = self.docs
        if n_docs is not None:
            docs = docs.where(F.col("doc_id") < n_docs)
        t0 = time.perf_counter()
        with sp.span("build_vocabulary"):
            vocab = build_vocabulary(docs, cfg)
            n_vocab = vocab.count()
        with sp.span("build_cooccurrence"):
            n_x = build_cooccurrence(docs, vocab, cfg).count()
        with sp.span("fit") as fit_span:
            model = Glove(**self.GLOVE).fit(docs)
        synonyms = []
        for w in self.words:
            with sp.span("find_synonyms"):
                synonyms.append(model.find_synonyms(w, self.K).collect())
        corpus = model.vectors.select(
            F.col("id").alias("vec_id"),
            F.col("vector").alias("embedding"),
            F.lit(0).alias("label"),
        )
        probes = corpus.where(F.col("vec_id") < self.PROBES).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        with sp.span("ivf_build_index"):
            ivf_build_index(corpus, index, n_lists=self.N_LISTS, seed=42)
        with sp.span("ivf_probe_index"):
            served = ivf_probe_index(
                self.spark, index, probes, k=self.K, n_probe=self.N_PROBE
            ).collect()
        wall = self.last_unit_s = time.perf_counter() - t0
        if not check:
            return []
        with sp.span("check"):
            return self._check(wall, n_vocab, n_x, fit_span, model, synonyms,
                               index, served)

    def _check(self, wall, n_vocab, n_x, fit_span, model, synonyms, index,
               served) -> list[str]:
        self.ops.append(wall)
        self.entries.append(n_x)
        self.fit_s.append(fit_span.end - fit_span.start)
        self.index_files.append(_tree_files(os.path.join(index, "lists"))[0])

        problems = []
        losses = model.losses
        iterations = self.GLOVE["iterations"]
        if len(losses) != iterations:
            problems.append(f"{len(losses)} losses for {iterations} iterations")
        if any(b >= a for a, b in zip(losses, losses[1:])):
            problems.append(f"losses not strictly decreasing: {losses}")
        if self.losses0 is None:
            self.losses0 = list(losses)
        elif list(losses) != self.losses0:
            problems.append(f"losses differ between repetitions: {losses}")
        vectors = model.vectors.collect()
        if len(vectors) != n_vocab:
            problems.append(f"{len(vectors)} vectors for a vocabulary of {n_vocab}")
        for w, rows in zip(self.words, synonyms):
            got = [r["word"] for r in rows]
            if len(got) != self.K or w in got:
                problems.append(f"find_synonyms({w!r}) returned {got}")
        recall, bad = _recall(vectors, served, self.PROBES, self.K)
        problems += bad
        self.recalls.append(recall)
        return problems

    def unit_op(self) -> None:
        self.op(check=False)

    def run_problems(self) -> list[str]:
        r = median(self.recalls)
        if r < self.RECALL_FLOOR:
            return [f"recall_at_10 {r:.4f} below the floor {self.RECALL_FLOOR}"]
        return []

    def op_note(self) -> str:
        return f"fit {self.fit_s[-1]:.3f} s entries {self.entries[-1]}"

    def digest(self) -> str:
        return ",".join(repr(x) for x in (self.losses0 or []))

    def end_to_end(self):
        pairs = sum(self.entries) * self.GLOVE["iterations"]
        return {
            "run_s": (mean(self.ops), "s"),
            "fit_pairs_per_s": (pairs / sum(self.fit_s) if self.fit_s else 0.0, "1/s"),
            "recall_at_10": (median(self.recalls), "ratio"),
        }

    def per_layer(self):
        sp = self.spans
        return {
            "trainer.vocab_s": (median(sp.durations("build_vocabulary")), "s"),
            "trainer.fit_s": (median(sp.durations("fit")), "s"),
            "trainer.jobs_per_fit": (median(sp.jobs("fit")), "count"),
            "trainer.synonyms_s": (median(sp.durations("find_synonyms")), "s"),
            "cooccurrence.build_s": (
                median(sp.durations("build_cooccurrence")),
                "s",
            ),
            "cooccurrence.entries": (median(self.entries), "count"),
            "ann.index_build_s": (median(sp.durations("ivf_build_index")), "s"),
            "ann.batch_s": (median(sp.durations("ivf_probe_index")), "s"),
            "ann.index_files": (median(self.index_files), "count"),
            "ann.jobs_per_batch": (median(sp.jobs("ivf_probe_index")), "count"),
        }


def _recall(vectors, served, n_probes: int, k: int) -> tuple[float, list[str]]:
    """recall@k of the served batch against exact top-k under the
    index's own metric: inner product rounded to 6 decimals, ties to
    the lower id, the probe itself excluded."""
    import numpy as np

    ids = np.array([r["id"] for r in vectors], dtype=np.int64)
    x = np.array([r["vector"] for r in vectors], dtype=np.float64)
    got: dict[int, set[int]] = {}
    for r in served:
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])
    hits, problems = 0, []
    for p in range(n_probes):
        row = int(np.nonzero(ids == p)[0][0])
        score = np.round(x @ x[row], 6)
        order = [i for i in np.lexsort((ids, -score)) if ids[i] != p][:k]
        found = got.get(p, set())
        # an IVF probe may find fewer than k in its lists; never more
        if len(found) > k or p in found:
            problems.append(f"probe {p} served {sorted(found)}")
        hits += len(found & {int(ids[i]) for i in order})
    return hits / (k * n_probes), problems


# --- ingest -------------------------------------------------------------

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


class Ingest(Workload):
    name = "ingest"
    THROUGHPUT = "docs_per_s"
    MIN_OPS = 2
    DOCS = gen.DocSpec(n_docs=1500, n_types=3000, dup_rate=0.10, reject_rate=0.06)
    EPOCHS = 5  # micro-batches per stream: the registered query runs 4
    WARM_DOCS = 300  # the warm-up streams this prefix in two epochs
    n_pass = 0  # numbers each pass's directory

    def generate(self) -> None:
        self.manifest = gen.documents(self.seed, self.DOCS, self.data_dir)
        self.n_rejects = sum(len(v) for v in self.manifest["rejects"].values())

    def load(self) -> None:
        from spark_glove_spark.sources import table

        self.docs = table(self.spark, self.data_dir, "documents")

    def bind(self, spark) -> None:
        from telemetry import StreamProgress

        super().bind(spark)
        self.progress = StreamProgress()
        self.n_streams = 0  # queries started since the listener was added
        spark.streams.addListener(self.progress)

    def prepare_checks(self) -> None:
        """The curated rollup's truth: the registered query's DuckDB
        oracle over the generated documents."""
        import duckdb

        from spark_glove_spark.registry import oracle_sql
        from spark_glove_spark.streaming import queries  # noqa: F401 registers

        con = duckdb.connect()
        try:
            path = os.path.join(self.data_dir, "documents.parquet")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
            )
            self.oracle = con.execute(
                oracle_sql()["pipeline_streaming_curate"]
            ).fetchdf()
        finally:
            con.close()

    def begin(self) -> None:
        super().begin()
        self.epoch_s: list[list[float]] = []  # per pass, in epoch order
        self.stream_s: list[float] = []
        self.commits: list[int] = []
        self.files: list[int] = []
        self.bytes: list[int] = []
        self.kept: list[float] = []
        self.progress.batches.clear()

    def warm_up(self) -> None:
        """Every code path of a pass, on a short two-epoch stream."""
        self.op(check=False, epochs=2, n_docs=self.WARM_DOCS)

    def op(self, check=True, epochs=EPOCHS, n_docs=None) -> list[str]:
        from pyspark.sql import functions as F

        from spark_glove_spark.sources import txlog
        from spark_glove_spark.streaming.jobs import (
            run_stream_foreach_batch,
            stage_ranged_stream,
        )
        from spark_glove_spark.streaming.queries import (
            _curate_epoch,
            _curate_tables_init,
        )

        spark, sp = self.spark, self.spans
        base = os.path.join(self.work_dir, "ingest", f"pass{self.n_pass}")
        self.n_pass += 1
        epoch_s: dict[int, float] = {}

        def process(batch_df, epoch_id):
            t = time.perf_counter()
            with sp.span("_curate_epoch"):
                _curate_epoch(spark, tables, batch_df, epoch_id)
            epoch_s[int(epoch_id)] = time.perf_counter() - t

        t0 = time.perf_counter()
        docs = self.docs
        if n_docs is not None:
            docs = docs.where(F.col("doc_id") < n_docs)
        with sp.span("stage_ranged_stream"):
            sdf = stage_ranged_stream(docs, "doc_id", base, _DOC_SCHEMA, n_files=epochs)
        with sp.span("_curate_tables_init"):
            tables = _curate_tables_init(spark, docs, base)
        with sp.span("run_stream_foreach_batch") as stream_span:
            run_stream_foreach_batch(sdf, process, "append")
        self.n_streams += 1
        # re-deliver the last epoch: the file stream's newest file
        staged = [
            f
            for f in glob.glob(os.path.join(base, "f", "part-*.parquet"))
            if os.path.getsize(f) > 0
        ]
        last_file = max(staged, key=os.path.getmtime)
        last_epoch = max(epoch_s)
        versions = {k: txlog.current_version(p) for k, p in tables.items()}
        with sp.span("replay_curate_epoch"):
            _curate_epoch(
                spark,
                tables,
                spark.read.schema(_DOC_SCHEMA).parquet(last_file),
                last_epoch,
            )
        replayed = {k: txlog.current_version(p) for k, p in tables.items()}
        with sp.span("txlog.read"):
            rollup = (
                txlog.read(spark, tables["cur"])
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n").cast("long").alias("total_tokens"),
                )
                .toPandas()
            )
        wall = time.perf_counter() - t0
        self.last_unit_s = median(epoch_s.values())
        problems: list[str] = []
        if check:
            with sp.span("check"):
                problems = self._check(wall, stream_span, epoch_s, versions,
                                       replayed, tables, rollup)
        shutil.rmtree(base, ignore_errors=True)
        return problems

    def _check(self, wall, stream_span, epoch_s, versions, replayed, tables,
               rollup) -> list[str]:
        import paritycheck

        from spark_glove_spark.sources import txlog

        problems: list[str] = []
        # the listener hears of the stream asynchronously
        self.progress.wait_terminated(self.n_streams)
        self.ops.append(wall)
        self.stream_s.append(stream_span.end - stream_span.start)
        self.epoch_s.append([epoch_s[e] for e in sorted(epoch_s)])
        self.commits.append(sum(versions.values()))
        n_files = n_bytes = 0
        for p in tables.values():
            nf, nb = _tree_files(p)
            n_files, n_bytes = n_files + nf, n_bytes + nb
        self.files.append(n_files)
        self.bytes.append(n_bytes)
        problems += paritycheck.compare(
            "pipeline_streaming_curate", rollup, self.oracle
        )
        if replayed != versions:
            problems.append(f"replay added versions: {versions} -> {replayed}")
        if len(epoch_s) != self.EPOCHS:
            problems.append(f"{len(epoch_s)} epochs, expected {self.EPOCHS}")
        passed = txlog.read(self.spark, tables["sh"]).count()
        expected = self.DOCS.n_docs - self.n_rejects
        if passed != expected:
            problems.append(
                f"quality gate passed {passed} docs, manifest says {expected}"
            )
        self.kept.append(int(rollup["n_docs"].sum()) / max(passed, 1))
        return problems

    def unit_op(self) -> None:
        """Three epochs of the measured size, for the one-core median."""
        per_epoch = self.DOCS.n_docs // self.EPOCHS
        self.op(check=False, epochs=3, n_docs=3 * per_epoch)

    def op_note(self) -> str:
        return f"stream {self.stream_s[-1]:.3f} s epochs " + " ".join(
            f"{t:.3f}" for t in self.epoch_s[-1])

    def _epochs(self) -> list[float]:
        return [t for p in self.epoch_s for t in p]

    def end_to_end(self):
        t, pct, n = tail(self._epochs())
        docs = self.DOCS.n_docs * len(self.stream_s)
        return {
            "run_s": (mean(self.ops), "s"),
            "docs_per_s": (docs / sum(self.stream_s) if self.stream_s else 0.0, "1/s"),
            "epoch_p50_s": (median(self._epochs()), "s"),
            "epoch_tail_s": (t, "s", f"p{pct:.0f} of {n}"),
        }

    def per_layer(self):
        b = self.progress.batches
        q = max(1, self.EPOCHS // 4)
        first = [p[i] for p in self.epoch_s for i in range(q)]
        last = [p[i] for p in self.epoch_s for i in range(self.EPOCHS - q, self.EPOCHS)]
        return {
            "streaming.addbatch_s": (median(x["add_batch_s"] for x in b), "s"),
            "streaming.trigger_overhead_s": (
                median(x["trigger_s"] - x["add_batch_s"] for x in b),
                "s",
            ),
            "streaming.epochs": (float(len(b)), "count"),
            "dedup.kept_frac": (median(self.kept), "ratio"),
            "txlog.commits": (median(self.commits), "count"),
            "txlog.files_written": (median(self.files), "count"),
            "txlog.bytes_written": (median(self.bytes), "bytes"),
            "txlog.replay_noop_s": (
                median(self.spans.durations("replay_curate_epoch")),
                "s",
            ),
            "txlog.read_s": (median(self.spans.durations("txlog.read")), "s"),
            "txlog.epoch_growth": (
                median(last) / median(first) if first else 0.0,
                "ratio",
            ),
        }


WORKLOADS = {w.name: w for w in (Train, Ingest)}
