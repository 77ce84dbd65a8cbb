"""The full validation pass: constraints + drift over a token table.

This is the engine's flagship job (BASELINE.json north_star): one batch pass
over ``(doc_id, tokens, n_tok, source)`` that

1. enforces schema, null-rate, uniqueness (one-shuffle agg), referential
   integrity (broadcast anti-join), the ``n_tok <=> size(tokens)`` row
   invariant, and token-array equality vs the baseline table (hash-prefiltered
   equi-join);
2. computes per-`source`-partition distribution drift vs baseline — PSI + KS
   + Jensen-Shannon on ``n_tok`` and the ``n_tok`` column profile, all from
   one per-value sketch job; Jensen-Shannon + chi-squared on the token-id
   histogram;
3. writes three parquet outputs — ``results`` (one verdict row per
   (partition, check)), ``violations`` (exact offending rows), ``manifest``
   (per-partition completion rows with lineage + wall time) — and **resumes**
   from the manifest: partitions already completed for a run_id are pruned
   from every input scan on rerun.

Exactly-once resume protocol (kill-safe):
  * violations and results are written ``partitionBy(run_id, check_name,
    partition_value)`` / ``(run_id, partition_value)`` with DYNAMIC partition
    overwrite — a rerun of the same partitions replaces any rows a killed
    attempt left behind instead of appending duplicates;
  * the manifest append for a batch happens strictly AFTER that batch's
    violations + results land, so a manifest row is the commit record: kill
    anywhere → rerun redoes exactly the uncommitted partitions and total
    output equals an uninterrupted run;
  * ``partition_batch_size`` bounds the work between commit points (None =
    single batch: one set of bulk jobs, still exactly-once, but a kill loses
    the whole attempt's progress).
  * cross-partition (global) checks — uniqueness, schema — always scan the
    FULL table, not just pending partitions, so duplicates spanning
    already-completed partitions are found on resume; they run in the first
    batch of a fresh run and are skipped when any partition is already
    committed (their output is already on disk from that attempt).

Scale notes: all heavy passes are grouped-by-`source` single jobs (no
per-partition job loop — 10^4 partitions would mean 10^4 job launches;
``partition_batch_size`` trades commit granularity against job count);
drift finalization handles groups x bins sketch rows driver-side. The token
histogram pass explodes tokens; ``token_sample_fraction`` bounds it at scale
(sampling is LOGGED in the results row — no silent caps). The pass's own
driver-built tables (partition codes, schema problems, results, manifest)
go through ``driver_frame`` and its read-backs declare their schemas, so
it starts no Python workers and runs no schema-inference jobs.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Sequence

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aumos_drift_detector_spark.config import DEFAULT_CONFIG, EngineConfig
from aumos_drift_detector_spark.functions.kernels import recommended_action, severity
from aumos_drift_detector_spark.operators import constraints as C
from aumos_drift_detector_spark.operators import drift as D
from aumos_drift_detector_spark.sources.synth import TOKEN_SCHEMA
from aumos_drift_detector_spark.sources.tables import driver_frame

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_value", T.StringType()),
        T.StructField("check_name", T.StringType()),
        T.StructField("feature", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("is_drifted", T.BooleanType()),
        T.StructField("severity", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("details", T.MapType(T.StringType(), T.StringType())),
        T.StructField("detected_at", T.TimestampType()),
    ]
)

VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_value", T.StringType()),
        T.StructField("check_name", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("detail", T.StringType()),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_value", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("rows_processed", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("lineage", T.StringType()),
        T.StructField("completed_at", T.TimestampType()),
    ]
)

# checks that scan the full table (cross-partition semantics), vs checks whose
# violations are attributable to a single partition's rows
GLOBAL_CHECKS = ("schema", "uniqueness")
PARTITION_CHECKS = ("null_rate", "referential", "ntok_matches_size", "token_equality")
CHECK_NAMES = GLOBAL_CHECKS + PARTITION_CHECKS


@dataclass
class ValidationReport:
    run_id: str
    partitions: list[str]
    skipped_partitions: list[str]
    results: pd.DataFrame
    violation_counts: dict[str, int]
    wall_ms: int


@dataclass(frozen=True)
class ValidationSettings:
    partition_col: str = "source"
    key_col: str = "doc_id"
    tokens_col: str = "tokens"
    ntok_col: str = "n_tok"
    max_null_fraction: float = 0.05
    token_sample_fraction: float = 1.0  # <1.0 bounds the explode at scale
    run_token_histogram: bool = True
    # commit granularity: partitions per batch (None = all pending in one
    # batch). Smaller batches = less lost work on a kill, more job launches.
    partition_batch_size: int | None = None
    engine: EngineConfig = field(default_factory=lambda: DEFAULT_CONFIG)


class ValidationRun:
    """One resumable validation pass. See module docstring."""

    def __init__(
        self,
        spark: SparkSession,
        current: DataFrame,
        baseline: DataFrame,
        sources_dim: DataFrame,
        out_dir: str,
        run_id: str | None = None,
        settings: ValidationSettings = ValidationSettings(),
    ) -> None:
        self.spark = spark
        self.current = current
        self.baseline = baseline
        self.sources_dim = sources_dim
        self.out_dir = out_dir.rstrip("/")
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.s = settings
        # read by the perfbench regime check and by bench.py's output
        self.token_hist_plan = "explode"

    # -- output tables ------------------------------------------------------

    def _read(self, table: str, schema: T.StructType) -> DataFrame:
        """One of the pass's own output tables. The declared schema skips
        Spark's footer-inference job, reads a table whose writes held no
        rows as empty, and keeps ``partition_value`` a string whatever the
        values look like."""
        return self.spark.read.schema(schema).parquet(f"{self.out_dir}/{table}")

    def _completed_partitions(self) -> set[str]:
        try:
            m = self._read("manifest", MANIFEST_SCHEMA)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return set()  # no batch of any run has committed here yet
        rows = (
            m.where((F.col("run_id") == self.run_id) & (F.col("status") == "done"))
            .select("partition_value")
            .distinct()
            .collect()
        )
        return {r["partition_value"] for r in rows}

    # -- main ---------------------------------------------------------------

    def run(self, resume: bool = True) -> ValidationReport:
        t0 = time.monotonic()
        s = self.s
        part = s.partition_col
        raw_parts = [
            r[0]
            for r in self.current.select(part).distinct().collect()
        ]
        # a NULL partition key must not crash the run (sorted() can't order
        # None vs str) nor silently vanish: NULL-keyed rows can't join any
        # batch (isin filters exclude NULL), so they are reported instead
        # via a dedicated results row in the first batch (see _run_batch's
        # null_partition_rows plumb-through)
        all_parts = [p for p in raw_parts if p is not None]
        self._has_null_partition = len(all_parts) != len(raw_parts)
        done = self._completed_partitions() if resume else set()
        pending = sorted(p for p in all_parts if p not in done)
        skipped = sorted(p for p in all_parts if p in done)

        if not pending:
            return ValidationReport(self.run_id, [], skipped, pd.DataFrame(), {}, 0)

        bsz = s.partition_batch_size or len(pending)
        batches = [pending[i : i + bsz] for i in range(0, len(pending), bsz)]
        # globals already committed iff any partition committed (they commit
        # with the first successful batch of the run)
        run_globals_next = not done

        results_rows: list[dict] = []
        for batch in batches:
            self._run_batch(batch, run_globals_next, results_rows)
            run_globals_next = False

        violation_counts = self._violation_counts()
        wall_ms = int((time.monotonic() - t0) * 1000)
        return ValidationReport(
            run_id=self.run_id,
            partitions=pending,
            skipped_partitions=skipped,
            results=pd.DataFrame(results_rows),
            violation_counts=violation_counts,
            wall_ms=wall_ms,
        )

    # -- one commit unit ----------------------------------------------------

    def _run_batch(
        self,
        batch: list[str],
        include_globals: bool,
        results_rows: list[dict],
    ) -> None:
        tb = time.monotonic()
        s = self.s
        part = s.partition_col
        cur = self.current.where(F.col(part).isin(batch))
        base = self.baseline.where(F.col(part).isin(batch))
        now = datetime.now(tz=timezone.utc)

        # ---- build phase: every check is LAZY ------------------------------
        # Eagerly counting each check's violations costs one Spark job per
        # check; instead all violation DataFrames union into ONE write, and
        # counts come back from the written parquet in one tiny
        # partition-pruned read. The three heavy jobs (violations write,
        # n_tok sketch, token histogram) are independent, so they are
        # submitted CONCURRENTLY from a thread pool — the Spark scheduler
        # interleaves their stages, hiding driver/codegen latency (per-job
        # fixed cost is the Amdahl term that killed 8->32 scaling efficiency
        # otherwise). Concurrent is measured, not assumed: on identical
        # 25 GB (32M-row) input at local[32] the concurrent pass took 400 s
        # and a strictly sequential one 891 s (BASELINE.md "Round-5 32M
        # probe"). Run late in a JVM whose heap the violations job had
        # filled, the token histogram slowed from 394 s to 677 s, while
        # every stage alone scales linearly 16M->32M with negligible GC.
        check_meta: dict[str, dict] = {}

        def lazy_check(res: C.CheckResult) -> DataFrame:
            check_meta[res.check_name] = res.details
            vio = res.violations
            if "occurrences" in vio.columns:
                vio = vio.drop("occurrences")
            # NULL partition values coalesce to a check-type-specific
            # sentinel: global checks own '__global__'; partition checks use
            # '__unattributed__' so a later batch re-reporting run-scoped
            # unattributed counts never dynamic-overwrites (and wipes) the
            # global checks' results partition (round-2 advisory)
            sentinel = (
                "__global__"
                if res.check_name in GLOBAL_CHECKS
                else "__unattributed__"
            )
            return vio.select(
                F.lit(self.run_id).alias("run_id"),
                F.coalesce(F.col("partition_value"), F.lit(sentinel)).alias(
                    "partition_value"
                ),
                F.lit(res.check_name).alias("check_name"),
                F.col("doc_id"),
                F.col("detail"),
            )

        violation_frames = [
            lazy_check(
                C.null_rate_check(
                    cur, [s.tokens_col, s.ntok_col], s.max_null_fraction, (part,),
                    eager=False,
                )
            ),
            lazy_check(
                C.referential_check(
                    cur, part, self.sources_dim, part, key_col=s.key_col,
                    partition_col=part, eager=False,
                )
            ),
            lazy_check(
                C.row_invariant_check(
                    cur,
                    # size(NULL) is NULL with ANSI on but -1 with it off; the
                    # explicit NULL branch keeps "both NULL" a pass in every
                    # session
                    f"if({s.tokens_col} IS NULL, {s.ntok_col} IS NULL, "
                    f"{s.ntok_col} <=> size({s.tokens_col}))",
                    name="ntok_matches_size",
                    key_col=s.key_col,
                    partition_col=part,
                    eager=False,
                )
            ),
            lazy_check(
                C.token_equality_check(
                    cur, base, s.key_col, s.tokens_col, partition_col=part,
                    eager=False,
                )
            ),
        ]
        if include_globals:
            # full-table scans: duplicates spanning completed partitions must
            # be found even on resume (cross-partition semantics)
            violation_frames.insert(
                0, lazy_check(C.schema_check(self.current, TOKEN_SCHEMA))
            )
            violation_frames.insert(
                1,
                lazy_check(
                    C.uniqueness_check(
                        self.current, s.key_col, partition_col=part, eager=False,
                    )
                ),
            )
        all_vio = violation_frames[0]
        for vf in violation_frames[1:]:
            all_vio = all_vio.unionByName(vf)
        batch_checks = (
            list(CHECK_NAMES) if include_globals else list(PARTITION_CHECKS)
        )

        # ---- execute phase: concurrent job submission -----------------------
        from concurrent.futures import ThreadPoolExecutor

        def job_violations():
            # dynamic partition overwrite: replaces exactly the (run, check,
            # partition) dirs this batch produces — idempotent across retries.
            # Cluster the union by its output partition keys first (guide §6
            # output sizing): without this every union-branch task writes its
            # own sliver into every dir it touches (measured 95 files for
            # 2.6 MB at the bench shape) and BOTH read-backs — the batch
            # count and the end-of-run _violation_counts — pay one scan task
            # per sliver (113-task, ~1.2 s stages). A 4-way doc_id salt keeps
            # a hot check (e.g. every row violating token_equality) from
            # serializing on one writer; the salt shuffles only skinny
            # violation rows and never reaches the table schema.
            _salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4))
            (
                all_vio.repartition(
                    F.col("check_name"), F.col("partition_value"), _salt
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("run_id", "check_name", "partition_value")
                .parquet(f"{self.out_dir}/violations")
            )
            written = (
                self._read("violations", VIOLATIONS_SCHEMA)
                .where(
                    (F.col("run_id") == self.run_id)
                    & F.col("check_name").isin(batch_checks)
                    & (
                        F.col("partition_value").isin(batch + ["__unattributed__"])
                        | F.lit(include_globals)  # globals span all partitions
                    )
                )
                .groupBy("check_name", "partition_value")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            counts: dict[tuple[str, str], int] = {
                (r["check_name"], r["partition_value"]): r["n"] for r in written
            }
            return counts

        def job_token_hist():
            if not s.run_token_histogram:
                return None
            from aumos_drift_detector_spark.sources.synth import VOCAB_SIZE

            # int-code the partition key BEFORE the explode: the 2-billion-row
            # exploded stream then carries (int, int) instead of dragging a
            # string group key through the aggregation — measured ~1.9x faster
            # (round-1 perf trap #6, applied to the hottest path); codes map
            # back to values in the tiny collected sketch
            code_df = F.broadcast(
                driver_frame(
                    self.spark,
                    [(p, i) for i, p in enumerate(batch)],
                    T.StructType([
                        self.current.schema[part],
                        T.StructField("_pcode", T.LongType()),
                    ]),
                )
            )
            # explode + codegen hash aggregate; sampling is defined over
            # the exploded token rows (seed 42)
            cur_tok = cur.join(code_df, part).select(
                "_pcode", F.explode(s.tokens_col).alias("token_id")
            )
            base_tok = base.join(code_df, part).select(
                "_pcode", F.explode(s.tokens_col).alias("token_id")
            )
            if s.token_sample_fraction < 1.0:
                # keyword fraction: sample(0.5, seed=42) drops the seed in
                # pyspark and draws a random one
                frac = s.token_sample_fraction
                cur_tok = cur_tok.sample(fraction=frac, seed=42)
                base_tok = base_tok.sample(fraction=frac, seed=42)
            # token_id stays int (cheap isNotNull filter); known vocab
            # domain -> ONE single-pass fixed-width binned count feeds
            # BOTH the JS and bucketed chi-squared kernels — collect is
            # groups x 256.
            pdf = D._binned_counts_shared_range(
                base_tok, cur_tok, "token_id", ("_pcode",), 256,
                domain=(0, VOCAB_SIZE),
            )
            pdf[part] = pdf["_pcode"].map(dict(enumerate(batch)))
            return pdf.drop(columns=["_pcode"])

        def job_ntok_sketch():
            # one shared scan: the per-value sketch (nulls kept as a marker
            # row) feeds PSI+KS+JS *and* the column profile driver-side.
            # Side order (base, cur): reference = baseline snapshot (PSI's
            # bin edges come from it), production = current — same as
            # job_token_hist
            return D.per_value_sketch(
                base, cur, s.ntok_col, (part,), keep_nulls=True
            ).toPandas()

        job_walls: dict[str, float] = {}

        def timed(name, fn):
            def run():
                jt = time.monotonic()
                try:
                    return fn()
                finally:
                    job_walls[name] = round(time.monotonic() - jt, 2)
            return run

        jobs = {
            "violations": job_violations,
            "ntok_sketch": job_ntok_sketch,
            "token_hist": job_token_hist,
        }
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futs = {name: pool.submit(timed(name, fn)) for name, fn in jobs.items()}
            vio_counts = futs["violations"].result()
            sketch_pdf = futs["ntok_sketch"].result()
            # driver kernels run while the token histogram job is still
            # going. Sketch sides are (base=ref, cur=prod); the profile
            # describes the CURRENT batch, so it reads side="prod"
            prof = D.profile_from_sketch(
                sketch_pdf, (part,), s.ntok_col, side="prod"
            )
            fused = D._verdicts_from_sketch(
                sketch_pdf, (part,), s.ntok_col, s.engine, ("psi", "ks", "js")
            )
            tok_counts_pdf = futs["token_hist"].result()
            # true span of the job pool (r5 fix: this used to be stamped
            # after the violations future alone, under-reporting the pool)
            job_walls["_pool_wall"] = round(time.monotonic() - tb, 2)

        # ---- finalize (driver-side, sketch-sized) ---------------------------
        batch_rows: list[dict] = []

        def check_row(name: str, pval: str, n_vio: int) -> dict:
            return dict(
                run_id=self.run_id,
                partition_value=pval,
                check_name=name,
                feature=str(
                    check_meta.get(name, {}).get("key")
                    or check_meta.get(name, {}).get("fk")
                    or check_meta.get(name, {}).get("predicate", "")
                ),
                score=float(n_vio),
                threshold=0.0,
                is_drifted=n_vio > 0,
                severity="critical" if n_vio > 0 else "info",
                action="retrain" if n_vio > 0 else "ignore",
                details={k: str(v) for k, v in check_meta.get(name, {}).items()},
                detected_at=now,
            )

        if include_globals:
            # one aggregate row per global check (violations may span every
            # partition — per-partition attribution lives in the violations
            # table itself)
            for name in GLOBAL_CHECKS:
                total = sum(n for (c, _), n in vio_counts.items() if c == name)
                batch_rows.append(check_row(name, "__global__", total))
            if getattr(self, "_has_null_partition", False):
                # NULL partition keys never join a batch (isin excludes
                # NULL): surface them as a critical check instead of
                # silently skipping those rows
                n_null = self.current.where(F.col(part).isNull()).count()
                batch_rows.append(
                    check_row("null_partition_key", "__unattributed__", n_null)
                )
        for name in PARTITION_CHECKS:
            for p in batch:
                batch_rows.append(check_row(name, p, vio_counts.get((name, p), 0)))
            # Defense in depth: partition checks cannot currently emit a
            # NULL partition_value at all (cur is pre-filtered to the
            # batch's non-null keys; NULL-keyed rows are surfaced by the
            # null_partition_key check above instead), so this branch is
            # dead unless a future check changes that. If it ever fires,
            # note the limits: the RESULTS row is re-reported per batch
            # with the run-scoped count (idempotent, and never overwrites
            # the globals' '__global__' partition), but the VIOLATIONS
            # '__unattributed__' partition is dynamic-overwrite
            # batch-scoped — a later batch writing there would replace an
            # earlier batch's unattributed violation rows.
            n_unattributed = vio_counts.get((name, "__unattributed__"), 0)
            if n_unattributed:
                batch_rows.append(
                    check_row(name, "__unattributed__", n_unattributed)
                )

        rows_per_part: dict[str, int] = {}
        for _, r in prof.iterrows():
            rows_per_part[str(r[part])] = int(r["total_rows"])
            batch_rows.append(
                dict(
                    run_id=self.run_id,
                    partition_value=str(r[part]),
                    check_name="profile",
                    feature=s.ntok_col,
                    # fused-path mean is a Python None (object dtype) when a
                    # group's column is entirely NULL; float(None) raises
                    score=float(r["mean"]) if r["mean"] is not None else float("nan"),
                    threshold=float("nan"),
                    is_drifted=False,
                    severity="info",
                    action="ignore",
                    details={
                        k: str(r[k])
                        for k in (
                            "count", "mean", "std", "min_value", "max_value",
                            "median", "percentile_95", "null_fraction", "unique_count",
                        )
                    },
                    detected_at=now,
                )
            )

        for test, check_name in (("psi", "psi"), ("ks", "ks"), ("js", "jensen_shannon")):
            self._record_drift(fused[test], check_name, batch_rows, now, part)

        if tok_counts_pdf is not None:
            extra = {
                "sample_fraction": str(s.token_sample_fraction),
                "n_bins": "256",
            }
            js = D.histogram_kernel_from_counts(
                tok_counts_pdf, "js", (part,), 256, s.engine.js_threshold,
                feature="token_id",
            )
            self._record_drift(js, "token_hist_js", batch_rows, now, part, extra)
            chi2 = D.histogram_kernel_from_counts(
                tok_counts_pdf, "chi2", (part,), 256, s.engine.chi2_threshold,
                feature="token_id",
            )
            self._record_drift(
                chi2, "token_hist_chi2", batch_rows, now, part, extra
            )

        # ---- commit: results (idempotent) then manifest (commit record) ----
        results_df = driver_frame(
            self.spark,
            [tuple(row[f.name] for f in RESULTS_SCHEMA.fields) for row in batch_rows],
            RESULTS_SCHEMA,
        )
        (
            results_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "partition_value")
            .parquet(f"{self.out_dir}/results")
        )

        wall_ms = int((time.monotonic() - tb) * 1000)
        lineage = json.dumps(
            {
                "engine": "aumos_drift_detector_spark",
                "checks": sorted(batch_checks),
                "inputs": {"current": "df", "baseline": "df"},
                "settings": {
                    "token_sample_fraction": s.token_sample_fraction,
                },
            }
        )
        manifest_rows = [
            (
                self.run_id, p, "done", int(rows_per_part.get(p, 0)),
                wall_ms, lineage, datetime.now(tz=timezone.utc),
            )
            for p in batch
        ]
        driver_frame(self.spark, manifest_rows, MANIFEST_SCHEMA).write.mode(
            "append"
        ).parquet(f"{self.out_dir}/manifest")
        job_walls["_batch_wall"] = round(time.monotonic() - tb, 2)
        # per-job wall times for the last executed batch (diagnostics; the
        # pool runs jobs concurrently so these overlap)
        self.last_job_walls = job_walls
        results_rows.extend(batch_rows)

    # -- final read-backs ----------------------------------------------------

    def _violation_counts(self) -> dict[str, int]:
        """Per-check totals for the run from the committed violations table.

        Reading the idempotently-written table (rather than summing in-memory
        attempt counts) makes the report reflect exactly what is on disk —
        including batches committed by a previous, killed attempt.
        """
        written = (
            self._read("violations", VIOLATIONS_SCHEMA)
            .where(F.col("run_id") == self.run_id)
            .groupBy("check_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        counts = {r["check_name"]: r["n"] for r in written}
        return {name: counts.get(name, 0) for name in CHECK_NAMES}

    def _record_drift(
        self,
        frame: pd.DataFrame,
        check_name: str,
        results_rows: list[dict],
        now: datetime,
        part: str,
        extra: dict | None = None,
    ) -> None:
        for _, r in frame.iterrows():
            if r.get("error") is not None:
                results_rows.append(
                    dict(
                        run_id=self.run_id,
                        partition_value=str(r[part]),
                        check_name=check_name,
                        feature="",
                        score=float("nan"),
                        threshold=float("nan"),
                        is_drifted=None,
                        severity="info",
                        action="investigate",
                        details={"error": str(r["error"]), **(extra or {})},
                        detected_at=now,
                    )
                )
                continue
            test = r["test"]
            # reference guard (services.py:325-327): severity is only computed
            # when drift fired; healthy rows are always 'info'
            drifted = bool(r["is_drifted"])
            sev = (
                severity(float(r["score"]), float(r["threshold"]), test)
                if drifted
                else "info"
            )
            results_rows.append(
                dict(
                    run_id=self.run_id,
                    partition_value=str(r[part]),
                    check_name=check_name,
                    feature=str(r["feature"]),
                    score=float(r["score"]),
                    threshold=float(r["threshold"]),
                    is_drifted=drifted,
                    severity=sev,
                    action=recommended_action(drifted, sev),
                    details={
                        "test": str(test),
                        "reference_size": str(r["reference_size"]),
                        "production_size": str(r["production_size"]),
                        **(extra or {}),
                    },
                    detected_at=now,
                )
            )
