"""The benchmark's workloads: inputs, one op, and the check of its output.

Each workload drives the engine only through its public calls. ``op``
runs one pass of the workload's call sequence through ``call(name, fn)``,
which times the call and records its span, and returns the per-layer
times of that pass with the pass's output. ``reference`` builds what the
outputs must equal and ``check`` compares one output with it, raising
``CheckFailed``; a run whose workload did not take the physical path it
exists to exercise raises ``RegimeError``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

import inputs


class CheckFailed(Exception):
    """An op's output disagrees with its reference."""


class RegimeError(Exception):
    """The workload did not take the physical path it is meant to measure."""


def _frame_digest(rows) -> str:
    return hashlib.sha1(repr(sorted(rows)).encode()).hexdigest()


def _num(x) -> str:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return "nan"
    return f"{float(x):.9g}"


# ---------------------------------------------------------------------------
# validate_tokens
# ---------------------------------------------------------------------------

class ValidateTokens:
    """One ``ValidationRun(...).run(resume=False)`` over a drifted current
    table and its baseline, as a single batch."""

    name = "validate_tokens"

    def __init__(self, work: str, seed: int, size: dict) -> None:
        self.inputs = inputs.token_tables(work, seed, size["token_rows"])
        self.out = os.path.join(work, "out", "validation")

    def start(self, spark) -> dict:
        from aumos_drift_detector_spark.plans.validation import ValidationSettings

        self.spark = spark
        self.cur = spark.read.parquet(self.inputs["current"])
        self.base = spark.read.parquet(self.inputs["baseline"])
        self.rows = self.cur.count()
        self.dim = spark.createDataFrame(
            [("web",), ("books",), ("code",), ("wiki",)], ["source"]
        )
        # the frozen bench's settings: full token histogram, default plan
        self.settings = ValidationSettings(
            max_null_fraction=0.05, token_sample_fraction=1.0,
            run_token_histogram=True,
        )
        self.digest = None
        self.expected = None
        return {"current_rows": self.rows}

    def reference(self) -> dict:
        """Violation counts per (check, partition) from a plain-DataFrame
        recount that shares no code with the engine's checks."""
        from aumos_drift_detector_spark.sources.synth import SOURCES

        cur, base = self.cur, self.base

        def by_part(df) -> dict:
            return {r[0]: r[1] for r in df.groupBy("source").count().collect()}

        parts = [r[0] for r in cur.select("source").distinct().collect() if r[0]]
        null_cells: dict[str, int] = {}
        for r in cur.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("tokens").isNull().cast("long")).alias("t"),
            F.sum(F.col("n_tok").isNull().cast("long")).alias("k"),
        ).collect():
            null_cells[r["source"]] = int(r["t"] / r["n"] > 0.05) + int(r["k"] / r["n"] > 0.05)
        c, b = cur.alias("c"), base.alias("b")
        per_check = {
            "null_rate": null_cells,
            "referential": by_part(cur.where(~F.col("source").isin(SOURCES))),
            "ntok_matches_size": by_part(
                cur.where(~F.coalesce(F.expr("n_tok <=> size(tokens)"), F.lit(False)))
            ),
            "token_equality": by_part(
                c.join(b, "doc_id")
                .where(~F.col("c.tokens").eqNullSafe(F.col("b.tokens")))
                .select("c.source")
            ),
        }
        expected = {
            ("schema", "__global__"): 0,
            ("uniqueness", "__global__"): cur.groupBy("doc_id").count()
            .where("count > 1").count(),
        }
        for check, counts in per_check.items():
            for p in parts:
                expected[(check, p)] = counts.get(p, 0)
        self.expected = expected
        return {"expected_violations": {f"{k[0]}/{k[1]}": v for k, v in sorted(expected.items())}}

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, call) -> tuple[dict, tuple]:
        from aumos_drift_detector_spark.plans.validation import CHECK_NAMES, ValidationRun

        run = ValidationRun(
            self.spark, self.cur, self.base, self.dim, self.out, settings=self.settings
        )
        report, wall = call("validation.run", lambda: run.run(resume=False))
        if run.token_hist_plan != "explode":
            raise RegimeError(f"token histogram plan is {run.token_hist_plan}, not explode")
        w = run.last_job_walls
        layers = {
            "validation.run_s": wall,
            "validation.violations_job_s": w["violations"],
            "validation.ntok_sketch_job_s": w["ntok_sketch"],
            "validation.token_hist_job_s": w["token_hist"],
            "validation.pool_s": w["_pool_wall"],
            "validation.commit_s": w["_batch_wall"] - w["_pool_wall"],
            "validation.readback_s": wall - w["_batch_wall"],
        }
        res = report.results
        got = {
            (r.check_name, r.partition_value): int(r.score)
            for r in res[res["check_name"].isin(CHECK_NAMES)].itertuples()
        }
        digest = _frame_digest(
            (r.partition_value, r.check_name, r.feature, _num(r.score), str(r.is_drifted))
            for r in res.itertuples()
        )
        return layers, (got, report.violation_counts, digest)

    def check(self, output) -> None:
        got, counts, digest = output
        if got != self.expected:
            raise CheckFailed(f"verdict rows differ from the recount: {got}")
        totals: dict[str, int] = {}
        for (check, _), n in self.expected.items():
            totals[check] = totals.get(check, 0) + n
        if counts != totals:
            raise CheckFailed(f"violation counts {counts} != {totals}")
        if self.digest is not None and digest != self.digest:
            raise CheckFailed("results differ from the previous repetition")
        self.digest = digest


# ---------------------------------------------------------------------------
# drift_lineitem
# ---------------------------------------------------------------------------

DRIFT_TESTS = ("psi", "ks", "w1")
# Tests whose over-cap score must equal the collect-path score exactly.
# PSI is left out: its two plans cut the reference quantile edges in
# different code (driver weighted percentiles vs Spark quantiles), and on
# inputs with tied values at an edge the scores differ in the third or
# fourth digit. Its verdicts must still agree; the largest score gap is
# kept in the run record.
EXACT_SCORE_TESTS = ("ks", "w1")


class DriftLineitem:
    """PSI, KS and Wasserstein per ``l_returnflag`` at the default sketch
    cap (driver collect path), then at cap 0 (distributed over-cap path),
    plus Anderson-Darling, which has one plan only."""

    name = "drift_lineitem"

    def __init__(self, work: str, seed: int, size: dict) -> None:
        self.inputs = inputs.lineitem(seed)

    def start(self, spark) -> dict:
        from aumos_drift_detector_spark.config import EngineConfig

        li = spark.read.parquet(self.inputs["path"])
        self.ref = li.where(F.col("l_linestatus") == "F")
        self.prod = li.where(F.col("l_linestatus") == "O").withColumn(
            "l_extendedprice", F.col("l_extendedprice") * F.lit(self.inputs["shift"])
        )
        self.rows = self.inputs["rows"]
        self.configs = {"collect": EngineConfig(), "overcap": EngineConfig(sketch_collect_max_rows=0)}
        self.digest = None
        self.score_gaps: dict[str, float] = {}
        return {
            "shift": self.inputs["shift"],
            "overcap_score_gap": self.score_gaps,
            "sketch_cap": {k: c.sketch_collect_max_rows for k, c in self.configs.items()},
        }

    def reference(self) -> dict:
        return {}

    def reset(self) -> None:
        pass

    def op(self, call) -> tuple[dict, dict]:
        from aumos_drift_detector_spark.operators import drift as D

        fns = {
            "psi": D.psi_test_grouped,
            "ks": D.ks_test_grouped,
            "w1": D.wasserstein_test_grouped,
        }
        layers, frames = {}, {}
        for mode, cfg in self.configs.items():
            for t in DRIFT_TESTS:
                frames[mode, t], layers[f"drift.{mode}.{t}_s"] = call(
                    f"drift.{mode}.{t}",
                    lambda fn=fns[t], cfg=cfg: fn(
                        self.ref, self.prod, "l_extendedprice", ("l_returnflag",),
                        config=cfg,
                    ),
                )
        frames["ad"], layers["drift.ad_s"] = call(
            "drift.ad",
            lambda: D.anderson_darling_test_grouped(
                self.ref, self.prod, "l_extendedprice", ("l_returnflag",)
            ),
        )
        return layers, frames

    def check(self, frames: dict) -> None:
        rows = []
        for t in DRIFT_TESTS:
            a = _verdicts(frames["collect", t])
            b = _verdicts(frames["overcap", t])
            if len(a) != 3 or [x[:2] + x[3:] for x in a] != [x[:2] + x[3:] for x in b]:
                raise CheckFailed(f"{t}: over-cap verdicts differ from collect: {a} vs {b}")
            gap = max(abs(x[2] - y[2]) for x, y in zip(a, b))
            if t in EXACT_SCORE_TESTS and gap > 1e-9 * max(abs(x[2]) for x in a):
                raise CheckFailed(f"{t}: over-cap scores {b} != collect {a}")
            self.score_gaps[t] = max(self.score_gaps.get(t, 0.0), gap)
            rows += [(t,) + x[:2] + (_num(x[2]), _num(y[2])) + x[3:] for x, y in zip(a, b)]
        rows += [("ad",) + x[:2] + (_num(x[2]),) + x[3:] for x in _verdicts(frames["ad"])]
        digest = _frame_digest(rows)
        if self.digest is not None and digest != self.digest:
            raise CheckFailed("verdicts differ from the previous repetition")
        self.digest = digest


def _verdicts(frame: pd.DataFrame) -> list[tuple]:
    if frame["error"].notna().any():
        raise CheckFailed(f"drift test reported an error: {frame['error'].dropna().tolist()}")
    return sorted(
        (str(r.l_returnflag), bool(r.is_drifted), float(r.score),
         int(r.reference_size), int(r.production_size))
        for r in frame.itertuples()
    )


# ---------------------------------------------------------------------------
# text workloads
# ---------------------------------------------------------------------------

# (call name, driver-contract query whose output and oracle it shares)
TEXT_CALLS = (
    ("spans.span_dedup", "span_dedup_documents"),
    ("lm.perplexity", "lm_perplexity_documents"),
    ("bpe.encode", "bpe_encode_documents"),
    ("corpus_pipeline.prep", "corpus_pipeline_documents"),
)
TEXT_LAYERS = {
    "spans.span_dedup": "spans.span_dedup_s",
    "lm.perplexity": "lm.perplexity_s",
    "bpe.encode": "bpe.encode_s",
    "corpus_pipeline.prep": "corpus_pipeline.prep_s",
}


def text_frames(docs) -> dict:
    """The four text calls, with the same parameters as their driver-contract
    queries so that the DuckDB oracles replay them."""
    from aumos_drift_detector_spark.operators.bpe import DEMO_MERGES, BpeTokenizer, bpe_encode
    from aumos_drift_detector_spark.operators.lm import lm_perplexity
    from aumos_drift_detector_spark.operators.spans import span_dedup_stats
    from aumos_drift_detector_spark.plans.corpus_pipeline import (
        corpus_prep_audit,
        corpus_prep_pipeline,
    )

    def corpus():
        bench = docs.where(F.col("doc_id") % 20 == 0)
        keep_p = F.lit(1.0) / (F.lit(1.0) + F.col("n_chars") / F.lit(300.0))
        labeled = corpus_prep_pipeline(
            docs, bench, "doc_id", "text", dup_word_max=0.6, keep_prob=keep_p
        )
        return corpus_prep_audit(labeled, "n_chars")

    return {
        "spans.span_dedup": lambda: span_dedup_stats(docs, "doc_id", "text", k=8, min_dup_docs=2),
        "lm.perplexity": lambda: lm_perplexity(docs, "doc_id", "text"),
        "bpe.encode": lambda: bpe_encode(
            docs, "doc_id", "text", BpeTokenizer(merges=tuple(DEMO_MERGES))
        ).select(
            "doc_id", "n_words", "n_bpe_tokens",
            F.md5(F.concat_ws(" ", "bpe_tokens")).alias("tokens_md5"),
        ),
        "corpus_pipeline.prep": corpus,
    }


def spark_digest(df) -> tuple[int, int]:
    """Order-insensitive digest computed inside Spark: the row count and
    the sum of the low 32 bits of each row's xxhash64 (doubles rounded to
    6 places). Consumes the whole result, like a noop sink, and collects
    one row."""
    cols = [
        F.round(F.col(n), 6) if t in ("double", "float") else F.col(n)
        for n, t in df.dtypes
    ]
    low = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))
    r = df.select(low.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).first()
    return int(r[0]), int(r[1] or 0)


class TextSf01:
    """The text calls on sf0.1 documents, whose size estimate is below the
    engine's checkpoint/widen gate."""

    name = "text_sf01"

    def __init__(self, work: str, seed: int, size: dict) -> None:
        self.inputs = inputs.documents(work, seed)
        self.verified = os.path.join(work, "oracle", f"text_sf01-{self.inputs['sha1']}.json")

    def start(self, spark) -> dict:
        from aumos_drift_detector_spark.operators.text import (
            CHECKPOINT_MIN_BYTES,
            worth_materializing,
        )

        self.spark = spark
        self.docs = spark.read.parquet(self.inputs["path"])
        self.rows = self.inputs["rows"]
        self.frames = text_frames(self.docs)
        self.expected: dict | None = None
        estimate = int(self.docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        record = {
            "catalyst_estimate_bytes": estimate,
            "checkpoint_min_bytes": CHECKPOINT_MIN_BYTES,
            "worth_materializing": worth_materializing(self.docs),
        }
        if record["worth_materializing"]:
            raise RegimeError(
                f"checkpoint gate is on (estimate {estimate} B vs gate {CHECKPOINT_MIN_BYTES} B)"
            )
        return record

    def reference(self) -> dict:
        """The digest of every call's output once its rows have matched the
        DuckDB replay of the call's oracle query (see ``oracle.py``).

        The rows are the same for every seed, so the replay runs once per
        checkout and its verified digests are kept in the work directory;
        every op of every seed must then reproduce them.
        """
        fresh = not os.path.exists(self.verified)
        if fresh:
            oracle = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle.py")
            proc = subprocess.run(
                [sys.executable, oracle, self.inputs["path"], self.verified], stdout=sys.stderr
            )
            if proc.returncode != 0:
                raise CheckFailed("the text calls differ from their DuckDB oracles")
        with open(self.verified) as fh:
            self.expected = json.load(fh)
        return {"duckdb_oracle": "match" if fresh else "match (verified earlier in this checkout)"}

    def reset(self) -> None:
        pass

    def op(self, call) -> tuple[dict, dict]:
        layers, digests = {}, {}
        for name, _ in TEXT_CALLS:
            build = self.frames[name]
            digests[name], layers[TEXT_LAYERS[name]] = call(
                name, lambda build=build: list(spark_digest(build()))
            )
        return layers, digests

    def check(self, digests: dict) -> None:
        if digests != self.expected:
            raise CheckFailed(f"outputs {digests} differ from the verified {self.expected}")


# ---------------------------------------------------------------------------
# drift_text_sf01
# ---------------------------------------------------------------------------

class DriftTextSf01:
    """The drift calls on sf0.1 lineitem, then the text calls on sf0.1
    documents: the engine's read-only layers over the sf0.1 tables, in one op.

    They share a workload because every run pays a session start and the
    first-use costs of its op; as two workloads, the benchmark's runs would
    not fit its time budget.
    """

    name = "drift_text_sf01"

    def __init__(self, work: str, seed: int, size: dict) -> None:
        self.parts = (DriftLineitem(work, seed, size), TextSf01(work, seed, size))

    def start(self, spark) -> dict:
        record = {p.name: p.start(spark) for p in self.parts}
        self.rows = sum(p.rows for p in self.parts)
        return record

    def reference(self) -> dict:
        return {p.name: p.reference() for p in self.parts}

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def op(self, call) -> tuple[dict, list]:
        layers: dict = {}
        outputs = []
        for p in self.parts:
            part_layers, output = p.op(call)
            layers.update(part_layers)
            outputs.append(output)
        return layers, outputs

    def check(self, outputs: list) -> None:
        for p, output in zip(self.parts, outputs):
            p.check(output)


WORKLOADS = {w.name: w for w in (DriftTextSf01, ValidateTokens)}
