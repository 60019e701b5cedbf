"""corpus_curation: the examples/corpus_curation.yaml tree through
``Pipeline.run_batch`` on a seeded generated corpus.

The corpus has stated shares of junk documents (fail the quality gate),
exact duplicates and near duplicates (a copy with two words replaced in
the middle, so both halves repeat a passage longer than the span
scrub's detection length). Each pass runs ``run_batch``, forces every
leaf in a fixed order with one aggregate per leaf (row count plus an
order-independent content hash over all columns), then releases the
result with ``result.unpersist()`` -- the documented convention and
nothing more.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from statistics import median

import yaml

from perfbench.harness import (
    ROOT,
    RestProbe,
    RunConfig,
    Tracer,
    cpu_s,
    jit_cpu_s,
    log,
    peak_rss_mb,
    start_session,
    steal_s,
)

EXAMPLE = os.path.join(ROOT, "examples", "corpus_curation.yaml")

# leaf node id -> per-layer span name; forced in this order every pass
LEAVES = (
    ("dedup_index", "operators.dedup.fingerprint"),
    ("span_scrub", "operators.dedup.span_scrub"),
    ("quality_report", "operators.text.stats"),
    ("training_shards", "operators.text.shard_pack"),
    ("rejected", "operators.core.filter"),
)

# Per-document work (mostly span_scrub and fingerprint) is about a third
# of a pass at 1000 documents; the rest is the pass's fixed job cost. A
# corpus where it dominates takes over 11 s a pass, more than a run's time
# budget holds beside the cold start. The measurement is in README.md.
DOCS = 1000
JUNK_RATE = 0.05
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.05
VOCAB = 3000
LANGS = ("en", "fr", "es", "de", "zh")
BUDGET_TOKENS = 4096  # the example's shard_pack budget


@dataclass
class Corpus:
    rows: list[tuple[int, str, str]]
    exact_of: dict[int, int]  # dup doc id -> source doc id
    near_of: dict[int, int]


def make_corpus(seed: int, n: int = DOCS) -> Corpus:
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choice(letters) for _ in range(rng.randint(2, 9))) for _ in range(VOCAB * 2)}
    )[:VOCAB]
    rng.shuffle(vocab)
    rows: list[tuple[int, str, str]] = []
    exact_of: dict[int, int] = {}
    near_of: dict[int, int] = {}
    good: list[int] = []  # long clean docs a duplicate may copy
    for doc_id in range(n):
        lang = rng.choice(LANGS)
        r = rng.random()
        if r < JUNK_RATE:
            if rng.random() < 0.5:  # too short
                text = " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 8)))
            else:  # gibberish tokens, average length well over 12
                text = " ".join(
                    "".join(rng.choice(letters) for _ in range(rng.randint(14, 30)))
                    for _ in range(rng.randint(12, 60))
                )
        elif r < JUNK_RATE + EXACT_DUP_RATE and good:
            src = rng.choice(good)
            text = rows[src][1]
            exact_of[doc_id] = src
        elif r < JUNK_RATE + EXACT_DUP_RATE + NEAR_DUP_RATE and good:
            src = rng.choice(good)
            words = rows[src][1].split(" ")
            mid = len(words) // 2
            words[mid] = "zzedit" + str(doc_id)
            words[mid + 1] = "zzedit" + str(doc_id + n)
            text = " ".join(words)
            near_of[doc_id] = src
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 200)))
            good.append(doc_id)
        rows.append((doc_id, text, lang))
    return Corpus(rows, exact_of, near_of)


def write_corpus(corpus: Corpus, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids, texts, langs = zip(*corpus.rows)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
            }
        ),
        path,
    )


def expected(corpus: Corpus) -> dict:
    """Per-leaf facts the generator knows, in the engine's own terms."""
    passing: list[tuple[int, int, int]] = []  # (doc_id, n_tokens, n_chars)
    rejected = set()
    for doc_id, text, _ in corpus.rows:
        n_tokens = len(text.split(" "))
        n_chars = len(text)
        if 10 <= n_tokens <= 2000 and n_chars / n_tokens < 12:
            passing.append((doc_id, n_tokens, n_chars))
        else:
            rejected.add(doc_id)
    shards = {}
    cum = 0
    for doc_id, n_tokens, _ in passing:  # doc_id order
        shards[doc_id] = (n_tokens, cum // BUDGET_TOKENS)
        cum += n_tokens
    return {
        "passing": {d for d, _, _ in passing},
        "rejected": rejected,
        "tokens": sum(t for _, t, _ in passing),
        "chars": sum(c for _, _, c in passing),
        "shards": shards,
    }


@dataclass
class Pass:
    wall: float
    work_cpu: float  # CPU seconds, the JIT compiler threads left out
    jit_cpu: float  # CPU seconds of the JIT compiler threads
    sums: dict[str, tuple[int, int]] | None  # per leaf (rows, hash); None where it raised


PASS_S = 6.0  # about one warm pass over DOCS on 2 cores: --seconds per timed pass
WARM_PASSES = 1  # warm-up passes after the checked cold one


class CurationBench:
    """Set-up with a checked cold pass and warm-up passes, then a fixed
    number of timed passes in the same session."""

    def __init__(self, cfg: RunConfig, tracer: Tracer):
        self.cfg = cfg
        self.tracer = tracer
        self.corpus = make_corpus(cfg.seed)
        self.corpus_path = os.path.join(cfg.work_dir, "corpus", "documents.parquet")
        write_corpus(self.corpus, self.corpus_path)
        self.expect = expected(self.corpus)
        with open(EXAMPLE) as f:
            tree = yaml.safe_load(f)
        tree["source"]["params"]["path"] = self.corpus_path
        self.yaml_text = yaml.safe_dump(tree, sort_keys=False)
        self.spark = None
        self.pipeline = None
        self.reference: dict[str, tuple[int, int]] | None = None
        self.bad_passes = 0  # cold or warm-up passes that failed

    def setup(self) -> float:
        """Session, pipeline, the cold pass and WARM_PASSES warm-up
        passes; returns the CPU seconds they took. The cold pass is
        checked against the generator, and the check's time is left out;
        a pass that fails counts in ``failed``."""
        from firebolt_spark import Pipeline

        t0, cpu0 = time.perf_counter(), cpu_s()
        with self.tracer.span("session.start"):
            self.spark = start_session(self.cfg)
        with self.tracer.span("pipeline.build"):
            self.pipeline = Pipeline.from_yaml(self.yaml_text)
        with self.tracer.span("setup.warmup"):
            result = self._run(lambda: self.pipeline.run_batch(self.spark))
            if result is not None:
                self.reference = self._run(lambda: self._force(result, "cold"))
        c0, ccpu0 = time.perf_counter(), cpu_s(self.spark)
        if result is None or self.reference is None or not self._run(lambda: self._check(result)):
            self.bad_passes += 1
        check_s = time.perf_counter() - c0
        check_cpu = cpu_s(self.spark) - ccpu0
        times: list[float] = []
        with self.tracer.span("setup.warmup"):
            if result is not None:
                result.unpersist()
            for i in range(WARM_PASSES):
                p = self.one_pass(f"warm{i}")
                self.bad_passes += p.sums is None or p.sums != self.reference
                times.append(p.wall)
        setup_s = cpu_s(self.spark) - cpu0 - check_cpu
        log(f"warm-up passes (s): {[round(x, 2) for x in times]}; set-up: "
            f"{time.perf_counter() - t0 - check_s:.1f} s wall, {setup_s:.1f} CPU-s")
        return setup_s

    def measure(self) -> dict:
        tr = self.tracer
        rest = RestProbe(self.spark) if tr.enabled else None
        totals0 = rest.executor_totals() if rest else None
        n = max(3, round(self.cfg.seconds / PASS_S))
        passes, bad, cached = [], 0, []
        s0 = steal_s()
        for i in range(n):
            p = self.one_pass(f"pass{i}")
            passes.append(p)
            bad += p.sums is None or p.sums != self.reference
            if rest:
                cached.append(rest.cached_rdds())
        stolen = steal_s() - s0
        totals1 = rest.executor_totals() if rest else None
        docs = len(self.corpus.rows)
        walls = [p.wall for p in passes]
        log(
            f"corpus_curation: {n} passes over {docs} docs, pass times "
            f"{[round(x, 2) for x in walls]} ({docs / median(walls):.1f} docs/s), "
            f"CPU {[round(p.work_cpu, 2) for p in passes]} + JIT "
            f"{[round(p.jit_cpu, 2) for p in passes]}, host steal {stolen:.1f} s, "
            f"cached RDDs after each release {cached}"
        )
        failed = self.bad_passes + bad
        out = {
            # the checked cold pass and the warm-up passes count too
            "attempted": docs * (1 + WARM_PASSES + n),
            "failed": docs * failed,
            "correct": failed == 0,
            "e2e": {
                "cpu_ms_per_item": (median(p.work_cpu for p in passes) * 1000 / docs, "ms"),
                "peak_rss_mb": (peak_rss_mb(self.spark), "MB"),
            },
        }
        if tr.enabled:
            keys = [f"pass{i}" for i in range(n)]
            per_pass = lambda name: median([tr.total(name, k) for k in keys])  # noqa: E731
            out["layers"] = {
                "pipeline.run_batch_s": (per_pass("pipeline.run_batch"), "s"),
                **{f"{span}_s": (per_pass(span), "s") for _, span in LEAVES},
                "spark.shuffle_write_bytes": ((totals1["shuffle_write_bytes"] - totals0["shuffle_write_bytes"]) / n, "B"),
                "jvm.gc_s": ((totals1["gc_s"] - totals0["gc_s"]) / n, "s"),
                "jvm.jit_cpu_s": (median(p.jit_cpu for p in passes), "s"),
                "cached_rdds": (cached[-1], "count"),
            }
        return out

    def one_pass(self, key: str) -> "Pass":
        """run_batch, force every leaf, release."""
        t0, c0, j0 = time.perf_counter(), cpu_s(self.spark), jit_cpu_s(self.spark)
        with self.tracer.span("pipeline.run_batch", key):
            result = self._run(lambda: self.pipeline.run_batch(self.spark))
        sums = None
        if result is not None:
            sums = self._run(lambda: self._force(result, key))
            result.unpersist()
        jit = jit_cpu_s(self.spark) - j0
        return Pass(time.perf_counter() - t0, cpu_s(self.spark) - c0 - jit, jit, sums)

    @staticmethod
    def _run(call):
        """``call()``, or None (logged) where it raised: a failed pass
        counts in ``failed`` and the run goes on."""
        try:
            return call()
        except Exception as exc:
            log(f"corpus_curation pass failed: {exc!r}")
            return None

    def _force(self, result, key: str) -> dict[str, tuple[int, int]]:
        """One aggregate per leaf: row count and an order-independent
        hash over every column (so no column can be pruned away)."""
        from pyspark.sql import functions as F

        sums = {}
        for node, span in LEAVES:
            df = result.outputs[node]
            with self.tracer.span(span, key):
                r = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
                ).collect()[0]
            sums[node] = (r["n"], int(r["h"] or 0))
        return sums

    def _check(self, result) -> bool:
        """Leaf rows against what the generator injected."""
        from pyspark.sql import functions as F

        out = result.outputs
        e, c = self.expect, self.corpus
        problems = []
        rejected = {r["doc_id"] for r in out["rejected"].select("doc_id").collect()}
        if rejected != e["rejected"]:
            problems.append(
                f"rejected {len(rejected)} docs, the generator {len(e['rejected'])}"
            )
        fp = {r["doc_id"]: r["fingerprint"] for r in out["dedup_index"].collect()}
        if set(fp) != e["passing"]:
            problems.append("dedup_index does not cover exactly the passing docs")
        elif any(fp[d] != fp[s] for d, s in c.exact_of.items()):
            problems.append("an exact duplicate's fingerprint differs from its source's")
        scrub = {
            r["doc_id"]: (r["n_words"], r["n_kept"])
            for r in out["span_scrub"].select("doc_id", "n_words", "n_kept").collect()
        }
        dups = set(c.exact_of) | set(c.near_of)
        trimmed = {d for d, (n, k) in scrub.items() if k < n}
        if trimmed != dups:
            problems.append(
                f"span_scrub trimmed {len(trimmed)} docs, {len(dups)} were injected duplicates"
            )
        if any(scrub.get(d, (0, 1))[1] != 0 for d in c.exact_of):
            problems.append("an exact duplicate kept words")
        stats = out["quality_report"].agg(F.sum("n_tokens"), F.sum("n_chars")).collect()[0]
        if (stats[0], stats[1]) != (e["tokens"], e["chars"]):
            problems.append("quality_report token or char totals differ")
        shards = {
            r["doc_id"]: (r["n_tokens"], r["shard_id"])
            for r in out["training_shards"].collect()
        }
        if shards != e["shards"]:
            problems.append("training_shards differ from the greedy pack")
        for p in problems:
            log(f"corpus_curation check failed: {p}")
        return not problems

