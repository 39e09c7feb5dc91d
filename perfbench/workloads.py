"""The benchmark workloads.

Each workload materializes its seeded inputs, derives the expected
outputs during set-up, runs one untimed warm-up that covers every code
path of an iteration, and then runs one closed-loop iteration per
``iterate()`` call (one client: the next iteration starts when the
previous one returns). An iteration returns a flat ``{key: int}``
summary of the program's output, which the harness compares with the
expected summary.

``SIZES`` holds the input sizes; ``smoke`` is the tiny size the
self-check uses.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from contextlib import ExitStack

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
from spans import Tracer

SIZES = {
    "full": {
        "dirty_docs": 20_000,
        "hot_copies": 1000,
        "payloads": 1024,
        "corpus_docs": 15_000,
        "dedup_docs": 1500,
        "parity_docs": 100,
    },
    "smoke": {
        "dirty_docs": 400,
        "hot_copies": 20,
        "payloads": 96,
        "corpus_docs": 400,
        "dedup_docs": 200,
        "parity_docs": 100,
    },
}

# Rules each fixture class generate_documents plants fires, as
# tests/test_engine.py derives its golden verdicts from ``_fixture_class``.
CLASS_RULES = {
    "offset_regression": ["S1"],
    "null_kind": ["S2"],
    "bad_kind": ["S2", "S8"],
    "oversize_spans": ["S3"],
    "control_chars": ["S5"],
    "bad_escape": ["S6"],
    "bad_unicode": ["S7"],
    "dangling_media": ["R1"],
    "text_with_media_ref": ["S8"],
    "dup_doc_id": ["U1"],
}
# M1, F1, D1 and S4 are not planted per class: those cells are pinned
# from the warm-up run instead of derived from the labels.
GOLDEN_RULES = ("S1", "S2", "S3", "S5", "S6", "S7", "S8", "U1", "R1")
HOT_DOC_ID = "0"  # the doc_id generate_documents replicates


class OutputMismatch(Exception):
    """The program's output differs from the expected output."""


def noop(df: DataFrame) -> None:
    """Force a lazy plan without a sink cost."""
    df.write.format("noop").mode("overwrite").save()


def diff(got: dict, want: dict, limit: int = 5) -> str:
    keys = sorted(set(got) | set(want), key=str)
    bad = [(k, got.get(k), want.get(k)) for k in keys if got.get(k) != want.get(k)]
    return f"{len(bad)} keys differ, e.g. " + ", ".join(
        f"{k}: got {g} want {w}" for k, g, w in bad[:limit]
    )


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, seed: int, size: dict, workdir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = size
        self.workdir = workdir
        self.n_docs = 0
        self.expected: dict = {}

    def materialize(self, path: str) -> dict:
        """Write the seeded input tables under ``path``; return their layout."""
        raise NotImplementedError

    def prepare(self, path: str) -> None:
        """Open the inputs and derive what the outputs must be."""
        raise NotImplementedError

    def warm_up(self) -> dict:
        """The untimed first run, whose output set-up checks and pins."""
        return self.iterate()

    # a key of the output that ``pin`` checks against ground truth (the
    # self-check corrupts it)
    golden_key: tuple = ()

    def pin(self, out: dict) -> None:
        """Check the warm-up output against the golden values and keep it
        as the expected output of every timed iteration."""
        self.expected = dict(out)

    def reset(self) -> None:
        """Untimed per-iteration preparation."""

    def iterate(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> None:
        if out != self.expected:
            raise OutputMismatch(f"{self.name}: {diff(out, self.expected)}")

    def probes(self, out: dict) -> dict[str, float]:
        """Traced run only: force each layer on its own, inside a span of
        the layer's name, and return the per-layer counts of ``out`` (the
        output of the iteration just traced)."""
        return {}


class ResumeHalf(Workload):
    """``run_with_manifest`` with the flagship rule pack (M1 + F1) over
    planted-violation documents, resuming a run that committed half of
    the partitions, then the verdict grid from the persisted violations."""

    name = "resume_half"

    def materialize(self, path: str) -> dict:
        s, spark = self.size, self.spark
        return {
            "documents": inputs.write_dirty_documents(
                spark, s["dirty_docs"], self.seed, s["hot_copies"], f"{path}/documents"
            ),
            "media_catalog": inputs.write_media_catalog(spark, self.seed, f"{path}/media_catalog"),
            "media_payloads": inputs.write_media_payloads(
                spark, s["payloads"], f"{path}/media_payloads"
            ),
        }

    def prepare(self, path: str) -> None:
        from zparse_spark.plans.engine import ValidationConfig, ValidationEngine

        spark = self.spark
        labeled = spark.read.parquet(f"{path}/documents")
        self.docs = labeled.drop("_fixture_class")
        self.catalog = spark.read.parquet(f"{path}/media_catalog")
        self.payloads = spark.read.parquet(f"{path}/media_payloads")
        self.engine = ValidationEngine(
            ValidationConfig(enable_media_decode=True, enable_media_kind_fd=True)
        )
        self.rules = self.engine.active_rule_ids()
        self.rules_hash = self.engine.config.rules_hash()
        self.golden = self._golden(labeled)
        self.out_dir = f"{self.workdir}/resume_run"
        self.template = f"{self.workdir}/half_run"

    def _golden(self, labeled: DataFrame) -> Counter:
        """Per-(partition, rule) counts the planted classes imply, from
        Spark aggregates over the labelled table as written."""
        hot = (F.col("doc_id") == HOT_DOC_ID) & F.lit(self.size["hot_copies"] > 0)
        groups = labeled.groupBy(
            "partition", "_fixture_class", hot.alias("hot")
        ).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.size("spans") >= 2).cast("long")).alias("multi_span"),
        )
        golden: Counter = Counter()
        self.n_docs = 0
        for g in groups.collect():
            self.n_docs += g["rows"]
            rules = set(CLASS_RULES.get(g["_fixture_class"], ()))
            if g["hot"]:
                rules.add("U1")
            for rule in rules:
                # control_chars plants a violation in span 0 and, when
                # present, span 1
                n = g["rows"] + (g["multi_span"] if rule == "S5" else 0)
                golden[(g["partition"], rule)] += n
        # R1 also fires on every reference to a catalog key that
        # generate_media_catalog dropped
        refs = labeled.select(
            "partition", F.explode("spans.media_ref").alias("media_ref")
        ).filter(F.col("media_ref").startswith("media_"))
        dropped = refs.join(self.catalog.select("media_ref"), "media_ref", "left_anti")
        for g in dropped.groupBy("partition").count().collect():
            golden[(g["partition"], "R1")] += g["count"]
        return golden

    def _run(self, out_dir: str) -> dict:
        from zparse_spark.multimodal import decode_verdicts
        from zparse_spark.plans.manifest import Manifest, run_with_manifest

        manifest = Manifest(out_dir)
        resumed = run_with_manifest(
            self.engine,
            self.docs,
            self.catalog,
            out_dir,
            manifest,
            media_verdicts=decode_verdicts(self.payloads),
        )
        with self.tracer.span("engine.verdicts"):
            grid = self.engine.verdicts(
                self.docs, manifest.read_violations(self.spark, self.rules_hash)
            ).collect()
        out = {("grid", r["partition"], r["rule_id"]): r["violation_count"] for r in grid}
        out[("resumed",)] = len(resumed)
        with open(f"{out_dir}/manifest.jsonl") as f:
            for r in map(json.loads, f):
                out[("manifest_docs", r["partition"])] = r["n_docs"]
                out[("manifest_violations", r["partition"])] = r["n_violations"]
        return out

    def warm_up(self) -> dict:
        """A full run from an empty manifest: it warms every path a resumed
        run takes, and its output is the reference for the resumed runs.
        Its first half of the partitions becomes the half-done run that
        ``reset`` copies in before each iteration."""
        from zparse_spark.plans.manifest import Manifest

        full = f"{self.workdir}/full_run"
        out = self._run(full)
        parts = sorted(k[1] for k in out if k[0] == "manifest_docs")
        self.committed = parts[: len(parts) // 2]
        with open(f"{full}/manifest.jsonl") as f:
            rows = {r["partition"]: r for r in map(json.loads, f)}
        os.makedirs(self.template)
        with open(f"{self.template}/manifest.jsonl", "w") as f:
            for p in self.committed:
                f.write(json.dumps(rows[p]) + "\n")
        sink = Manifest(full).partition_sink(self.rules_hash)
        half_sink = Manifest(self.template).partition_sink(self.rules_hash)
        for p in self.committed:
            if os.path.isdir(f"{sink}/partition={p}"):
                shutil.copytree(f"{sink}/partition={p}", f"{half_sink}/partition={p}")
        shutil.rmtree(full)
        return out

    @property
    def golden_key(self):
        return ("grid", min(p for p, _ in self.golden), "S1")

    def pin(self, out: dict) -> None:
        parts = sorted(k[1] for k in out if k[0] == "manifest_docs")
        # a resumed run commits the other half, with the full run's counts
        self.expected = {**out, ("resumed",): len(parts) - len(self.committed)}
        want = {
            ("grid", p, r): self.golden.get((p, r), 0) for p in parts for r in GOLDEN_RULES
        }
        got = {k: out.get(k) for k in want}
        if got != want:
            raise OutputMismatch(f"{self.name} vs planted classes: {diff(got, want)}")
        cells = sum(1 for k in out if k[0] == "grid")
        if cells != len(parts) * len(self.rules):
            raise OutputMismatch(f"{self.name}: verdict grid has {cells} cells")

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        shutil.copytree(self.template, self.out_dir)

    def iterate(self) -> dict:
        from pyspark.sql import DataFrameWriter
        from zparse_spark.plans.engine import ValidationEngine
        from zparse_spark.plans.manifest import Manifest

        t = self.tracer
        with ExitStack() as stack:
            if t.enabled:
                # spans around the calls run_with_manifest makes itself
                for owner, attr, name in (
                    (Manifest, "committed_partitions", "manifest.committed_partitions"),
                    (Manifest, "commit_many", "manifest.commit_many"),
                    (ValidationEngine, "violations", "engine.plan_build"),
                    (DataFrameWriter, "parquet", "engine.violations_write"),
                ):
                    stack.enter_context(t.wrap(owner, attr, name))
            return self._run(self.out_dir)

    def probes(self, out: dict) -> dict[str, float]:
        from zparse_spark.functions.text import span_start_positions
        from zparse_spark.multimodal import decode_verdicts
        from zparse_spark.operators.rules import (
            drift_violations,
            media_kind_consistency_violations,
            media_payload_violations,
            span_rule_violations,
            uniqueness_violations,
        )
        from zparse_spark.plans.manifest import Manifest

        p, docs = self.engine.config.params, self.docs
        layers = {
            "sources.scan": lambda: docs,
            "rules.span_rule_violations": lambda: span_rule_violations(
                docs, p, media_catalog=self.catalog
            ),
            "text.span_start_positions": lambda: docs.select(
                span_start_positions(F.col("spans.text")).alias("pos")
            ),
            "rules.uniqueness_violations": lambda: uniqueness_violations(docs),
            "rules.drift_violations": lambda: drift_violations(docs, p),
            "multimodal.decode_verdicts": lambda: decode_verdicts(self.payloads),
            "rules.media_payload_violations": lambda: media_payload_violations(
                docs, decode_verdicts(self.payloads)
            ),
            "rules.media_kind_consistency_violations": lambda: (
                media_kind_consistency_violations(docs)
            ),
            "engine.table_violations": lambda: self.engine.table_violations(docs),
            "manifest.read_violations": lambda: Manifest(self.out_dir).read_violations(
                self.spark, self.rules_hash
            ),
        }
        for name, plan in layers.items():
            with self.tracer.span(name):
                noop(plan())
        # spans the partition-decomposable rules examined: the resumed half
        pending = docs.filter(~F.col("partition").isin(self.committed))
        spans = pending.agg(F.sum(F.size("spans"))).collect()[0][0]
        cells = [v for k, v in out.items() if k[0] == "grid"]
        fired = sum(
            v for k, v in out.items()
            if k[0] == "manifest_violations" and k[1] not in self.committed
        )
        n_parts = sum(1 for k in out if k[0] == "manifest_docs")
        return {
            "engine.verdict_cells": len(cells),
            "engine.failed_cells": sum(1 for v in cells if v > 0),
            "rules.violation_rows": fired,
            "rules.violations_per_span": fired / spans,
            "manifest.skipped_partition_frac": len(self.committed) / n_parts,
        }


class CorpusPrep(Workload):
    """Training-data operators: admission filter + token-budget pack,
    boilerplate strip, PII redaction and MinHash near-dup detection."""

    name = "corpus_prep"
    THRESHOLD = 0.8

    def materialize(self, path: str) -> dict:
        s = self.size
        corpus = inputs.flat_corpus(s["corpus_docs"], self.seed)
        dedup = inputs.flat_corpus(s["dedup_docs"], self.seed, dup_share=0.1)
        return {
            "corpus": inputs.write_corpus(corpus, f"{path}/corpus"),
            "dedup": inputs.write_corpus(dedup, f"{path}/dedup"),
        }

    def prepare(self, path: str) -> None:
        from zparse_spark.functions.text import redact_pii
        from zparse_spark.operators.filtering import corpus_filter

        spark = self.spark
        self.cdocs = spark.read.parquet(f"{path}/corpus").select("doc_id", "text", "source")
        self.ddocs = spark.read.parquet(f"{path}/dedup").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
        n_corpus = self.size["corpus_docs"]
        self.n_docs = n_corpus + self.size["dedup_docs"]
        self.budget = 20 * n_corpus
        self.min_docs = max(2, n_corpus // 100)
        # per-source banner and a global footer: the boilerplate to strip
        self.lined = self.cdocs.select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit("\nbanner "), F.col("source"), F.lit("\ncopyright footer")
            ).alias("text"),
        )
        # planted e-mail and IPv4 addresses: the PII to redact. The words
        # hold no PII, so each doc must come out as its text followed by
        # the two placeholders.
        text = pq.read_table(f"{path}/corpus", columns=["text"])["text"]
        text_chars = pc.sum(pc.utf8_length(text)).as_py()
        self.redacted_chars = text_chars + n_corpus * len(" <EMAIL> <IPV4>")
        self.pii = self.cdocs.select(
            F.concat(
                F.col("text"), F.lit(" u"), F.col("doc_id").cast("string"),
                F.lit("@x.org 10.0.0."), (F.col("doc_id") % 256).cast("string"),
            ).alias("text")
        )
        # the Arrow and the expression implementations must agree row for
        # row (on a slice of the corpus, to keep set-up short)
        part = self.cdocs.filter(F.col("doc_id") < self.size["parity_docs"])
        cols = ["doc_id", "tokens", "quality", "lang_guess", "reject_reason", "kept"]
        impls = {
            "corpus_filter": lambda i: corpus_filter(part, impl=i).select(cols),
            "redact_pii": lambda i: part.select("doc_id", redact_pii(F.col("text"), impl=i)),
        }
        for name, plan in impls.items():
            arrow, expr = (sorted(plan(i).collect()) for i in ("arrow", "expr"))
            if arrow != expr:
                raise OutputMismatch(f"{name}: impl='arrow' and impl='expr' disagree")

    def iterate(self) -> dict:
        from zparse_spark.functions.text import redact_pii
        from zparse_spark.operators.dedup import minhash_dedup
        from zparse_spark.operators.filtering import (
            boilerplate_lines,
            corpus_filter,
            strip_boilerplate,
            token_budget_pack,
        )

        t = self.tracer
        with t.span("filtering.token_budget_pack"):
            kept = corpus_filter(self.cdocs).filter(F.col("kept"))
            packed = token_budget_pack(
                kept.select("doc_id", "tokens", "quality"), budget=self.budget
            ).count()
        with t.span("filtering.strip_boilerplate"):
            stripped = strip_boilerplate(
                self.lined, boilerplate_lines(self.lined, min_docs=self.min_docs)
            ).count()
        with t.span("text.redact_pii"):
            redacted = (
                self.pii.select(redact_pii(F.col("text")).alias("r"))
                .agg(F.sum(F.length("r")))
                .collect()[0][0]
            )
        with t.span("dedup.minhash_dedup"):
            pairs = minhash_dedup(self.ddocs, threshold=self.THRESHOLD).count()
        return {
            ("packed",): packed,
            ("stripped",): stripped,
            ("redacted_chars",): redacted,
            ("near_dup_pairs",): pairs,
        }

    golden_key = ("redacted_chars",)

    def pin(self, out: dict) -> None:
        super().pin(out)
        if out[("redacted_chars",)] != self.redacted_chars:
            raise OutputMismatch(
                f"{self.name}: redacted {out[('redacted_chars',)]} chars, "
                f"planted PII implies {self.redacted_chars}"
            )
        if out[("packed",)] == 0 or out[("stripped",)] != self.size["corpus_docs"]:
            raise OutputMismatch(f"{self.name}: implausible output {out}")
        if out[("near_dup_pairs",)] == 0:
            raise OutputMismatch(f"{self.name}: no planted near-duplicate was found")

    def probes(self, out: dict) -> dict[str, float]:
        from zparse_spark.operators.dedup import minhash_lsh_candidates
        from zparse_spark.operators.filtering import corpus_filter

        t = self.tracer
        with t.span("sources.scan"):
            noop(self.cdocs)
            noop(self.ddocs)
        with t.span("filtering.corpus_filter"):
            n, kept = corpus_filter(self.cdocs).agg(
                F.count(F.lit(1)), F.sum(F.col("kept").cast("long"))
            ).collect()[0]
        with t.span("dedup.minhash_lsh_candidates"):
            candidates = minhash_lsh_candidates(self.ddocs).count()
        return {
            "filtering.kept_frac": kept / n,
            "dedup.pairs_kept_frac": out[("near_dup_pairs",)] / candidates,
        }


WORKLOADS = {w.name: w for w in (ResumeHalf, CorpusPrep)}
