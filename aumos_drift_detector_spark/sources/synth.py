"""Deterministic synthetic token-table generation (FIXTURES.md §1).

Produces the engine's primary input shape per BASELINE.json input_hint:
``(doc_id string, tokens array<int>, n_tok int, source string)`` with a
skewed `source` distribution and exactly-counted planted violations, so the
test suite can assert exact per-partition pass/fail verdicts and violation
row sets. Seeded ``numpy.random.default_rng`` throughout — same seed, same
bytes, every run.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

VOCAB_SIZE = 50257
SOURCES = ["web", "books", "code", "wiki"]
SOURCE_WEIGHTS = [0.4, 0.2, 0.2, 0.2]  # web-heavy skew (north rule calls this out)

TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# planted-violation counts (FIXTURES.md §1); row-index ranges are disjoint
N_DUPES = 50          # rows [0, 50): doc_id duplicated (extra copy appended)
N_ORPHANS = 30        # rows [50, 80): source -> 'orphan_src'
N_BAD_NTOK = 40       # rows [80, 120): n_tok != size(tokens)
N_MUTATED = 25        # rows [120, 145): tokens differ from baseline
N_NULLS = 20          # rows [145, 165): tokens & n_tok null (both tables)
MIN_ROWS = 200


@dataclass(frozen=True)
class PlantedExpectations:
    uniqueness: int = N_DUPES
    referential: int = N_ORPHANS
    row_invariant: int = N_BAD_NTOK
    token_equality: int = N_MUTATED
    null_rows: int = N_NULLS


def _base_frame(
    n_rows: int,
    seed: int,
    ntok_mu: float,
    zipf_a: float,
) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    doc_ids = np.array([f"doc{i:09d}" for i in range(n_rows)])
    sources = rng.choice(SOURCES, size=n_rows, p=SOURCE_WEIGHTS)
    n_tok = np.clip(rng.lognormal(ntok_mu, 0.6, n_rows), 1, 2048).astype(np.int32)
    tokens = [
        ((rng.zipf(zipf_a, size=k) - 1) % VOCAB_SIZE).astype(np.int32)
        for k in n_tok
    ]
    return pd.DataFrame(
        {"doc_id": doc_ids, "tokens": tokens, "n_tok": n_tok, "source": sources}
    )


def generate_token_tables(
    spark: SparkSession,
    n_rows: int = 100_000,
    seed: int = 42,
    plant_violations: bool = True,
    drifted: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, PlantedExpectations]:
    """Build (current, baseline, sources_dim, expectations).

    baseline = the pristine generated table. current = same rows with the
    FIXTURES.md violation set planted (plus duplicated rows appended).
    ``drifted=True`` regenerates current with n_tok ~ LogNormal(mu=5.5) and
    Zipf exponent 1.4 (PSI >= 0.2 / KS p < 0.05 / token-histogram drift vs
    the mu=5.0 / a=1.2 baseline — mirrors the reference's shift tests).
    """
    if n_rows < MIN_ROWS:
        raise ValueError(f"n_rows must be >= {MIN_ROWS} to hold planted violations")

    base_pdf = _base_frame(n_rows, seed, ntok_mu=5.0, zipf_a=1.2)

    if drifted:
        cur_pdf = _base_frame(n_rows, seed + 1, ntok_mu=5.5, zipf_a=1.4)
        cur_pdf["doc_id"] = base_pdf["doc_id"].to_numpy()  # keep key alignment
        cur_pdf["source"] = base_pdf["source"].to_numpy()
    else:
        cur_pdf = base_pdf.copy(deep=True)
        cur_pdf["tokens"] = [t.copy() for t in base_pdf["tokens"]]

    if plant_violations:
        mut_rng = np.random.default_rng(seed + 1000)
        lo = 0
        dup_rows = cur_pdf.iloc[lo : lo + N_DUPES].copy()
        lo += N_DUPES
        cur_pdf.loc[lo : lo + N_ORPHANS - 1, "source"] = "orphan_src"
        lo += N_ORPHANS
        cur_pdf.loc[lo : lo + N_BAD_NTOK - 1, "n_tok"] = (
            cur_pdf.loc[lo : lo + N_BAD_NTOK - 1, "n_tok"] + 7
        )
        lo += N_BAD_NTOK
        for i in range(lo, lo + N_MUTATED):
            arr = cur_pdf.at[i, "tokens"].copy()
            arr[0] = (arr[0] + 1) % VOCAB_SIZE
            cur_pdf.at[i, "tokens"] = arr
        lo += N_MUTATED
        null_idx = list(range(lo, lo + N_NULLS))
        for pdf in (cur_pdf, base_pdf):
            for i in null_idx:
                pdf.at[i, "tokens"] = None
            pdf.loc[null_idx, "n_tok"] = None
        cur_pdf = pd.concat([cur_pdf, dup_rows], ignore_index=True)

    def to_sdf(pdf: pd.DataFrame) -> DataFrame:
        recs = [
            (
                r.doc_id,
                None if r.tokens is None else [int(x) for x in r.tokens],
                None if pd.isna(r.n_tok) else int(r.n_tok),
                r.source,
            )
            for r in pdf.itertuples(index=False)
        ]
        return spark.createDataFrame(recs, TOKEN_SCHEMA)

    sources_dim = spark.createDataFrame(
        [(s,) for s in SOURCES],
        T.StructType([T.StructField("source", T.StringType(), False)]),
    )
    return to_sdf(cur_pdf), to_sdf(base_pdf), sources_dim, PlantedExpectations()


def _token_file_task(args: tuple) -> int:
    """Generate ONE deterministic token parquet file (worker for
    ``fast_token_parquet``; module-level for multiprocessing pickling).

    Per-file rng seed = seed * 1_000_003 + file_idx, so any file can be
    (re)built independently and in any order. An already-existing file is
    skipped after recomputing only its (cheap) n_tok draw, so interrupted
    generations RESUME instead of restarting — the draws are deterministic,
    the bytes identical either way. A resumed file is only trusted after a
    parquet-footer row-count check (catches torn legacy files written
    before the atomic-rename change, or files from a different
    rows_per_file layout); generation-parameter changes are caught one
    level up by the ``_PARAMS.json`` fingerprint in ``fast_token_parquet``.
    Returns the file's token count.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir, file_idx, written, n, seed, ntok_mu, cdf = args
    rng = np.random.default_rng(seed * 1_000_003 + file_idx)
    n_tok = np.clip(rng.lognormal(ntok_mu, 0.6, n), 1, 2048).astype(np.int32)
    path = os.path.join(out_dir, f"part-{file_idx:05d}.parquet")
    if os.path.exists(path):
        try:
            ok = pq.read_metadata(path).num_rows == n
        except Exception:
            ok = False
        if ok:
            return int(n_tok.sum())
        os.remove(path)  # torn or wrong-layout file: rebuild it
    flat = np.searchsorted(
        cdf, rng.random(int(n_tok.sum())), side="right"
    ).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
    ids = np.char.add(f"d{file_idx:04d}_", np.arange(written, written + n).astype(str))
    sources = rng.choice(SOURCES, size=n, p=SOURCE_WEIGHTS)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }
    )
    # many files + small row groups => Spark gets real scan parallelism
    # even at sandbox scale (one 60MB file = ONE task otherwise). Write to a
    # temp name + atomic rename so a killed worker never leaves a torn file
    # for the resume check to skip.
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=12_500)
    os.replace(tmp, path)
    return int(n_tok.sum())


def fast_token_parquet(
    out_dir: str,
    n_rows: int,
    seed: int = 42,
    ntok_mu: float = 5.0,
    zipf_a: float = 1.2,
    drifted: bool = False,
    rows_per_file: int = 50_000,
    workers: int = 1,
) -> int:
    """Vectorized pyarrow writer for bench-scale token tables (no Spark, no
    per-row Python). Deterministic for (n_rows, seed) at ANY worker count.
    Returns total tokens.

    The `source` distribution keeps the web-heavy skew. Token arrays build as
    one flat Zipf draw + offsets -> Arrow ListArray, so 10^8 tokens take
    seconds, not hours. Files are seeded independently (see
    ``_token_file_task``): ``workers > 1`` fans generation out over a
    process pool, and already-written files are skipped, so an interrupted
    run resumes where it stopped.
    """
    import os

    if drifted:
        ntok_mu, zipf_a = 5.5, 1.4

    os.makedirs(out_dir, exist_ok=True)
    # Resume safety: a directory generated with DIFFERENT parameters must
    # not be silently topped up (the per-file skip would keep its files and
    # the result would match neither parameterization). A _PARAMS.json
    # fingerprint guards this; a legacy dir without one adopts the current
    # params (its files still face the per-file row-count check).
    import json

    fingerprint = {
        "seed": seed, "ntok_mu": ntok_mu, "zipf_a": zipf_a,
        "rows_per_file": rows_per_file, "vocab_size": VOCAB_SIZE,
    }
    man_path = os.path.join(out_dir, "_PARAMS.json")
    if os.path.exists(man_path):
        with open(man_path) as fh:
            prior = json.load(fh)
        if prior != fingerprint:
            raise ValueError(
                f"{out_dir} was generated with different parameters "
                f"({prior} != {fingerprint}); clear it before regenerating"
            )
    else:
        tmp_man = man_path + ".tmp"
        with open(tmp_man, "w") as fh:
            json.dump(fingerprint, fh)
        os.replace(tmp_man, man_path)
    # truncated-Zipf token sampling via inverse CDF: rng.zipf uses rejection
    # sampling (slow for a<2 and unbounded); a 50257-entry cumsum +
    # searchsorted draws 10^8 tokens in seconds, bounded and deterministic
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    pmf = ranks ** (-zipf_a)
    cdf = np.cumsum(pmf / pmf.sum())

    tasks = []
    written = 0
    file_idx = 0
    while written < n_rows:
        n = min(rows_per_file, n_rows - written)
        tasks.append((out_dir, file_idx, written, n, seed, ntok_mu, cdf))
        written += n
        file_idx += 1
    if workers > 1 and len(tasks) > 1:
        import multiprocessing as mp

        with mp.Pool(workers) as pool:
            return sum(pool.map(_token_file_task, tasks, chunksize=1))
    return sum(_token_file_task(t) for t in tasks)
