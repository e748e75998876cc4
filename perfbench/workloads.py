"""The benchmark's workloads: inputs, the timed op, its output check,
and the per-layer numbers a traced op yields.

Every call into the program goes through its public functions and is
wrapped in a tracer span named after the layer it enters. The op never
sees the seed — only the parquet files built from it.

Two workloads run timed ops: ``backfill`` and ``dedup``. The audit pass
(``quality.assess`` + ``profiler.profile``) and the headline driver
queries are trace-only probes: the audit on the dedup corpus, the
queries on seeded tables in the backfill run.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import corpus, tables
from perfbench.trace import (
    PY_BOOT, PY_INIT, PY_RECEIVED, PY_SENT, PY_TOTAL, accum_total, covered,
)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _noop(df) -> None:
    """Execute every column of `df` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def _span_stats(tr, log, span) -> dict:
    """Wall, job count, scanned bytes and job-free driver time of a span
    (its descendants included)."""
    ids = {span.id}
    for s in tr.spans:  # spans are appended in start order
        if s.parent in ids:
            ids.add(s.id)
    jobs = log.jobs_of(ids)
    return {
        "s": span.dur,
        "jobs": len(jobs),
        "scan_bytes": sum(s.input_bytes for s in log.stages_of(ids)),
        "shuffle_write_bytes": sum(
            s.shuffle_write_bytes for s in log.stages_of(ids)
        ),
        "spill_bytes": sum(s.spill_disk_bytes for s in log.stages_of(ids)),
        "driver_s": span.dur - covered(
            (j["start"], j["end"]) for j in jobs if j["end"] is not None
        ),
        "stages": log.stages_of(ids),
        "jobs_list": jobs,
    }


def _child(tr, op_span, name):
    return next(s for s in tr.children(op_span) if s.name == name)


class Workload:
    name = ""
    n_pages = 0
    with_dups = False
    reference_kind = ""
    # prefixes of the per-layer metrics of layers this workload never
    # calls: its traced run reports them as 0
    idle_layers: tuple[str, ...] = ()

    def inputs(self, cache: str, seed: int, n_files: int,
               traced: bool) -> None:
        """Build (or reuse) the seeded corpus and its reference, plus
        whatever the traced run's probes read."""
        self.pages = corpus.ensure_corpus(
            cache, seed, self.n_pages, self.with_dups, n_files
        )
        self.ref = corpus.reference(self.pages, self.reference_kind)
        self.n_docs = self.ref["n_docs"]
        self.seed = seed
        self.probe_problems: list[str] = []

    def prepare(self, spark, tr, work: str) -> None:
        """Program work the op needs before it can run (part of set-up)."""

    def op(self, spark, tr, out: str):
        raise NotImplementedError

    def check(self, res) -> list[str]:
        """Problems with one op's output (empty = correct)."""
        raise NotImplementedError

    def out_bytes(self, res) -> int:
        return 0

    def cleanup(self, res) -> None:
        pass

    def layer_metrics(self, tr, log, op_span, out_bytes: int) -> dict:
        """Per-layer numbers of one traced op."""
        return {}

    def warmup_metrics(self, log, warm_span) -> dict:
        """Per-layer numbers of the traced warm-up op."""
        return {}

    def probes(self, spark, tr) -> dict:
        """Trace-only layer timings outside the op; failed output checks
        go to `probe_problems`."""
        return {}

    def probe_metrics(self, tr, log) -> dict:
        """Per-layer numbers of the probes that need the event log."""
        return {}


class Backfill(Workload):
    """pipeline.checkpoint.run over clean pages into a fresh directory."""

    name = "backfill"
    n_pages = 10_000
    reference_kind = "labels"
    idle_layers = ("dedup.", "quality.", "profiler.", "self.dedup.")

    def inputs(self, cache, seed, n_files, traced):
        super().inputs(cache, seed, n_files, traced)
        if traced:
            self.tables, self.tables_ref = tables.ensure_tables(cache, seed)

    def op(self, spark, tr, out):
        from dataprof_spark.pipeline import checkpoint

        with tr.span("read.parquet"):
            pages = spark.read.parquet(self.pages)
        with tr.span("checkpoint.run"):
            rows = checkpoint.run(pages, out)
        return {"out": out, "manifests": rows}

    def check(self, res):
        problems = []
        table = pq.read_table(
            os.path.join(res["out"], "decisions"),
            columns=["url", "keep", "drop_reason", "scrubbed_text"],
        )
        if table.num_rows != self.n_docs:
            problems.append(f"{table.num_rows} decisions for {self.n_docs} docs")
        if corpus.decisions_digest(table.to_pylist()) != self.ref["digest"]:
            problems.append("decisions differ from the labeler's")
        docs_in = 0
        for m in res["manifests"]:
            dropped = sum(m["drop_reason_counts"].values())
            if m["docs_in"] != m["docs_out"] + dropped:
                problems.append(
                    f"partition {m['partition_id']}: docs_in {m['docs_in']} "
                    f"!= kept {m['docs_out']} + dropped {dropped}"
                )
            docs_in += m["docs_in"]
        if docs_in != self.n_docs:
            problems.append(f"manifests count {docs_in} of {self.n_docs} docs")
        return problems

    def out_bytes(self, res):
        return dir_bytes(res["out"])

    def cleanup(self, res):
        shutil.rmtree(res["out"], ignore_errors=True)

    def layer_metrics(self, tr, log, op_span, out_bytes):
        ck = _child(tr, op_span, "checkpoint.run")
        st = _span_stats(tr, log, ck)
        writes = [
            log.sql[j["sql"]] for j in st["jobs_list"]
            if j["sql"] in log.sql and log.sql[j["sql"]]["writes"]
        ]
        w_start = min(w["start"] for w in writes)
        w_end = max(w["end"] for w in writes)
        stages = st["stages"]
        return {
            "checkpoint.run_s": ck.dur,
            "checkpoint.plan_s": w_start - ck.start,
            "checkpoint.write_s": w_end - w_start,
            "checkpoint.manifest_s": ck.end - w_end,
            "checkpoint.jobs": st["jobs"],
            "checkpoint.shuffle_write_bytes": st["shuffle_write_bytes"],
            "checkpoint.out_bytes": out_bytes,
            "gates.python.total_s": accum_total(stages, PY_TOTAL) / 1e3,
            "gates.python.bytes_sent": accum_total(stages, PY_SENT),
            "gates.python.bytes_received": accum_total(stages, PY_RECEIVED),
        }

    def warmup_metrics(self, log, warm_span):
        # the first op of a fresh context starts the Python workers;
        # like gates.python.total_s, a sum over the op's tasks
        stages = [s for s in log.stages.values() if s.op == warm_span.op]
        boot = accum_total(stages, PY_BOOT) + accum_total(stages, PY_INIT)
        return {"gates.python.boot_s": boot / 1e3}

    def probes(self, spark, tr):
        from dataprof_spark.operators import gates

        pages = spark.read.parquet(self.pages)
        out = {}
        # the second pass is the one reported: the first compiles
        for _ in range(2):
            with tr.span("exprs.native_signals", op="probe") as s:
                _noop(
                    gates.with_signals(pages).withColumn(
                        "reason", gates.heuristic_reason_col()
                    )
                )
            out["exprs.native_signals.noop_s"] = s.dur
            with tr.span("gates.decide", op="probe") as s:
                _noop(gates.decide(pages))
            out["gates.decide.noop_s"] = s.dur
        out.update(self._queries(spark, tr))
        out.update(python_kernels(self.pages))
        return out

    def _queries(self, spark, tr):
        """The headline driver queries over the seeded tables, in an
        order the seed permutes; each runs twice and the second (warm)
        pass is reported. Every result is checked against DuckDB."""
        import random

        from dataprof_spark import queries

        reg = queries.registry()
        order = list(tables.HEADLINE)
        random.Random(self.seed).shuffle(order)
        out = {}
        for _ in range(2):
            for q in order:
                with tr.span(f"queries.{q}", op="probe") as s:
                    rows = [tuple(r) for r in reg[q][0](spark, self.tables)
                            .collect()]
                out[f"queries.{q}_s"] = s.dur
                want = self.tables_ref[q]
                if (len(rows), tables.rows_digest(rows)) != (
                        want["rows"], want["digest"]):
                    self.probe_problems.append(
                        f"{q}: {len(rows)} rows differ from DuckDB's "
                        f"{want['rows']}"
                    )
        return out


class Dedup(Workload):
    """Corpus-wide phase 2 (exact + near) over checkpointed phase 1."""

    name = "dedup"
    n_pages = 5_000
    with_dups = True
    reference_kind = "exact_dups"
    threshold = 0.7
    n_perm = 16
    near_recall_floor = 0.9
    idle_layers = ("core.", "exprs.", "gates.", "checkpoint.", "queries.",
                   "self.checkpoint.")

    def inputs(self, cache, seed, n_files, traced):
        super().inputs(cache, seed, n_files, traced)
        self.demoted = None  # the first op's demoted urls
        if traced:  # the audit layers are probed on the same corpus
            self.audit = Audit()
            self.audit.inputs(cache, seed, n_files, traced)

    def prepare(self, spark, tr, work):
        from dataprof_spark.pipeline import checkpoint

        self.phase1 = os.path.join(work, "phase1")
        shutil.rmtree(self.phase1, ignore_errors=True)
        with tr.span("checkpoint.run", op="setup"):
            checkpoint.run(spark.read.parquet(self.pages), self.phase1)

    def op(self, spark, tr, out):
        from dataprof_spark.pipeline import checkpoint, dedup_stage

        with tr.span("read.parquet"):
            dec = checkpoint.read_decisions(spark, self.phase1)
        with tr.span("dedup.exact"):
            dec = dedup_stage.mark_exact_duplicates(dec)
        with tr.span("dedup.near"):
            dec = dedup_stage.mark_near_duplicates(
                dec, threshold=self.threshold, n_perm=self.n_perm
            )
        with tr.span("dedup.write"):
            dec.write.mode("overwrite").parquet(out)
        return {"out": out}

    def check(self, res):
        rows = pq.read_table(
            res["out"], columns=["url", "keep", "drop_reason"]
        ).to_pylist()
        problems = []
        if len(rows) != self.n_docs:
            problems.append(f"{len(rows)} rows for {self.n_docs} docs")
        exact = sorted(
            r["url"] for r in rows if r["drop_reason"] == "exact_duplicate"
        )
        if exact != self.ref["exact_urls"]:
            problems.append(
                f"{len(exact)} exact demotions, labeler has "
                f"{len(self.ref['exact_urls'])}"
            )
        kept_exact = [r for r in rows if r["keep"] and "?dup=" in r["url"]]
        if kept_exact:
            problems.append(f"{len(kept_exact)} exact copies kept")
        # LSH banding finds a near pair with probability < 1 (about 97%
        # at the fixture's one-word edits), so near copies get a floor
        near = [r for r in rows if "?near=" in r["url"]]
        recall = sum(not r["keep"] for r in near) / max(len(near), 1)
        if recall < self.near_recall_floor:
            problems.append(f"near-copy recall {recall:.3f}")
        demoted = sorted(
            r["url"] for r in rows
            if r["drop_reason"] in ("exact_duplicate", "near_duplicate")
        )
        if self.demoted is None:
            self.demoted = demoted
        elif demoted != self.demoted:
            problems.append("demoted set differs from the first op's")
        return problems

    def out_bytes(self, res):
        return dir_bytes(res["out"])

    def cleanup(self, res):
        shutil.rmtree(res["out"], ignore_errors=True)

    def layer_metrics(self, tr, log, op_span, out_bytes):
        near = _span_stats(tr, log, _child(tr, op_span, "dedup.near"))
        write = _span_stats(tr, log, _child(tr, op_span, "dedup.write"))
        return {
            "dedup.near_s": near["s"],
            "dedup.write_s": write["s"],
            "dedup.jobs": near["jobs"] + write["jobs"],
            "dedup.shuffle_write_bytes": near["shuffle_write_bytes"]
            + write["shuffle_write_bytes"],
            "dedup.spill_bytes": near["spill_bytes"] + write["spill_bytes"],
            "dedup.out_bytes": out_bytes,
        }

    def probes(self, spark, tr):
        """The stage split of the near-dup pass (s1 signatures, s2 LSH
        candidates, s3 Jaccard verify, s4 demotion join), each timed on
        persisted inputs through the public dedup functions, plus the
        exact pass alone."""
        from pyspark import StorageLevel

        from dataprof_spark.operators import dedup
        from dataprof_spark.pipeline import checkpoint, dedup_stage

        n_bands = dedup.bands_for_threshold(self.n_perm, self.threshold)
        with tr.span("persist", op="probe"):
            dec = checkpoint.read_decisions(spark, self.phase1).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            dec.count()
            kept = dec.filter(F.col("keep")).select(
                "url", "scrubbed_text"
            ).persist(StorageLevel.MEMORY_AND_DISK)
            kept.count()
        out = {}
        with tr.span("dedup.exact", op="probe") as s:
            _noop(dedup_stage.mark_exact_duplicates(dec))
        out["dedup.exact_s"] = s.dur
        with tr.span("dedup.s1_minhash_bands", op="probe") as s:
            _noop(kept.select(
                "url",
                dedup.minhash_bands(
                    dedup.minhash_signature(
                        F.col("scrubbed_text"), self.n_perm
                    ),
                    n_bands,
                ).alias("bands"),
            ))
        out["dedup.s1_minhash_bands_s"] = s.dur
        with tr.span("dedup.s2_lsh_candidates", op="probe") as s:
            pairs = dedup.lsh_candidate_pairs(
                kept, id_col="url", text_col="scrubbed_text",
                n_perm=self.n_perm, n_bands=n_bands,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            n_cand = pairs.count()
        out["dedup.s2_lsh_candidates_s"] = s.dur
        verified = dedup.ngram_jaccard_pairs(
            kept, pairs, id_col="url", text_col="scrubbed_text",
            threshold=self.threshold, materialize=False,
        )
        with tr.span("dedup.s3_jaccard_verify", op="probe") as s:
            n_ver = verified.count()
        out["dedup.s3_jaccard_verify_s"] = s.dur
        vc = verified.localCheckpoint(eager=True)
        with tr.span("dedup.s4_demotion_join", op="probe") as s:
            losers = vc.select(F.col("id_b").alias("url")).distinct()
            _noop(
                dec.join(losers.withColumn("__nd", F.lit(True)), "url", "left")
                .withColumn("keep", F.col("keep") & F.col("__nd").isNull())
                .drop("__nd")
            )
        out["dedup.s4_demotion_join_s"] = s.dur
        for df in (pairs, kept, dec):
            df.unpersist(blocking=True)
        out["dedup.candidates"] = n_cand
        out["dedup.verified"] = n_ver
        out["dedup.verify_yield"] = n_ver / n_cand if n_cand else 0.0
        # one audit op: a second, warmer pass would cost another ~20 s of
        # a run that must end within 180 s on a loaded host
        with tr.span("op", op="audit") as self.audit_span:
            res = self.audit.op(spark, tr, None)
        self.probe_problems += self.audit.check(res)
        return out

    def probe_metrics(self, tr, log):
        return self.audit.layer_metrics(tr, log, self.audit_span, 0)


class Audit(Workload):
    """quality.assess (with validity) then profiler.profile, read-only.

    A probe of the traced dedup run, on the dedup corpus, not a workload
    of its own: one audit op costs about 10 s at any corpus size
    (planning and per-job work dominate), too long to repeat often
    enough within a run to be steady."""

    name = "audit"
    n_pages = Dedup.n_pages
    with_dups = True
    reference_kind = "column_counts"

    def op(self, spark, tr, out):
        from dataprof_spark.operators import profiler, quality

        with tr.span("read.parquet"):
            df = spark.read.parquet(self.pages)
        with tr.span("quality.assess"):
            report = quality.assess(df, key_col="url", with_validity=True)
        with tr.span("profiler.profile"):
            profiles = profiler.profile(df)
        return {"report": report, "profiles": profiles}

    def check(self, res):
        n, nulls = self.ref["n_docs"], self.ref["nulls"]
        problems = []
        by_name = {p.name: p for p in res["profiles"]}
        if sorted(by_name) != sorted(nulls):
            problems.append(f"profiled columns {sorted(by_name)}")
        for col, want in nulls.items():
            p = by_name.get(col)
            if p is not None and (p.total_count, p.null_count) != (n, want):
                problems.append(
                    f"{col}: {p.total_count} rows / {p.null_count} nulls, "
                    f"files have {n} / {want}"
                )
        missing = sum(nulls.values()) / (n * len(nulls))
        got = res["report"].details["completeness"]["missing_values_ratio"]
        if abs(got - missing) > 1e-12:
            problems.append(f"missing_values_ratio {got} != {missing}")
        return problems

    def layer_metrics(self, tr, log, op_span, out_bytes):
        qa = _span_stats(tr, log, _child(tr, op_span, "quality.assess"))
        pr = _span_stats(tr, log, _child(tr, op_span, "profiler.profile"))
        return {
            "quality.assess_s": qa["s"],
            "quality.jobs": qa["jobs"],
            "quality.scan_bytes": qa["scan_bytes"],
            "profiler.profile_s": pr["s"],
            "profiler.jobs": pr["jobs"],
            "profiler.scan_bytes": pr["scan_bytes"],
            "profiler.driver_s": pr["driver_s"],
        }


WORKLOADS = {w.name: w for w in (Backfill, Dedup)}


def python_kernels(pages: str, batch: int = 10_000) -> dict:
    """Single-threaded seconds per 1k docs of the three Python kernels
    behind the pipeline's Arrow UDF, over the corpus texts in
    Arrow-batch-sized chunks (Spark's default maxRecordsPerBatch)."""
    import pandas as pd

    from dataprof_spark.core import models, scrub

    texts = pq.read_table(pages, columns=["text"]).column("text").to_pylist()
    cfg = models.resolved_config()
    chunks = [texts[i:i + batch] for i in range(0, len(texts), batch)]
    kernels = {
        "core.langid.s_per_kdoc": lambda c: models.predict_batch(c, config=cfg),
        "core.perplexity.s_per_kdoc":
            lambda c: models.perplexity_batch(c, config=cfg),
        "core.scrub.s_per_kdoc": lambda c: scrub.scrub_batch(pd.Series(c)),
    }
    out = {}
    for name, fn in kernels.items():
        t0 = time.perf_counter()
        for c in chunks:
            fn(c)
        out[name] = (time.perf_counter() - t0) / (len(texts) / 1000)
    return out
