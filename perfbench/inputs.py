"""Seeded input builders for the benchmark workloads.

Every builder is a pure function of ``(seed, size)``: the same pair gives
the same files byte for byte. Outputs are cached under the benchmark's
work directory, keyed by that pair, so repeated runs of one seed pay the
generation once.

The drift and text workloads run on real sf0.1 rows kept in ``data/``:

- ``documents_sf01.parquet`` is the sf0.1 ``documents`` table, whole;
- ``lineitem_sf01_every10th.parquet`` is every 10th row of the sf0.1
  ``lineitem`` table (60,000 rows), projected to the three columns the
  drift tests read.

Builders use numpy and pyarrow only (no Spark), so their time is reported
on its own and never lands in the benchmark's ``setup_s``.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Token tables -------------------------------------------------------------

PLANTED_DUPES = 100      # copies of existing current rows (same doc_id)
PLANTED_ORPHANS = 60     # rows whose source is not in the sources dim
PLANTED_ORPHAN_NULLS = 30  # of those, rows with NULL tokens and n_tok
PLANTED_BAD_NTOK = 40    # rows whose n_tok disagrees with size(tokens)


def _cached(path: str, build) -> str:
    """Build ``path`` once: a marker file records a finished build."""
    marker = os.path.join(path, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(marker, "w") as fh:
            fh.write("ok")
    return path


def token_tables(work: str, seed: int, rows: int) -> dict:
    """Baseline and drifted current token tables plus planted violations.

    The tables come from the engine's own ``fast_token_parquet`` (web-heavy
    ``source`` skew); the current side is the drifted variant, so nearly
    every row fails ``token_equality``. A seeded extra file in the current
    table plants duplicates, orphan sources, NULL-heavy and bad ``n_tok``
    rows, so every validation check has something to find.
    """
    from aumos_drift_detector_spark.sources.synth import fast_token_parquet

    root = os.path.join(work, "inputs", f"tokens-{rows}-seed{seed}")

    def build(path):
        base = os.path.join(path, "baseline")
        cur = os.path.join(path, "current")
        fast_token_parquet(base, rows, seed=2 * seed)
        fast_token_parquet(cur, rows, seed=2 * seed + 1, drifted=True)
        _plant_violations(cur, seed)

    _cached(root, build)
    return {
        "baseline": os.path.join(root, "baseline"),
        "current": os.path.join(root, "current"),
        "rows": rows,
    }


def _plant_violations(cur_dir: str, seed: int) -> None:
    from aumos_drift_detector_spark.sources.synth import SOURCES

    rng = np.random.default_rng(seed + 7919)
    first = pq.read_table(os.path.join(cur_dir, "part-00000.parquet"))
    dupes = first.slice(0, PLANTED_DUPES)

    def fresh(prefix: str, n: int, sources, ntok_shift: int, n_null: int):
        lens = rng.integers(5, 60, size=n)
        toks = [rng.integers(0, 50257, size=k, dtype=np.int32).tolist() for k in lens]
        ntok = (lens + ntok_shift).astype(np.int32).tolist()
        for i in range(n_null):
            toks[i] = None
            ntok[i] = None
        return pa.table(
            {
                "doc_id": pa.array([f"{prefix}{i:05d}" for i in range(n)], pa.string()),
                "tokens": pa.array(toks, pa.list_(pa.int32())),
                "n_tok": pa.array(ntok, pa.int32()),
                "source": pa.array(sources, pa.string()),
            }
        )

    orphans = fresh(
        "orphan_", PLANTED_ORPHANS, ["orphan_src"] * PLANTED_ORPHANS, 0,
        PLANTED_ORPHAN_NULLS,
    )
    bad = fresh(
        "badntok_", PLANTED_BAD_NTOK,
        rng.choice(SOURCES, size=PLANTED_BAD_NTOK).tolist(), 3, 0,
    )
    planted = pa.concat_tables([dupes.cast(orphans.schema), orphans, bad])
    pq.write_table(planted, os.path.join(cur_dir, "part-99999-planted.parquet"))


# Lineitem ---------------------------------------------------------------

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
LINEITEM = os.path.join(DATA, "lineitem_sf01_every10th.parquet")
DOCUMENTS = os.path.join(DATA, "documents_sf01.parquet")


def lineitem(seed: int) -> dict:
    """The sf0.1 lineitem sample and the price shift drawn from the seed.

    The drift workload takes ``l_linestatus`` 'F' as the reference and
    'O', with ``l_extendedprice`` scaled by ``shift`` in [1.00, 1.10], as
    production.
    """
    shift = float(1.0 + 0.10 * np.random.default_rng(seed).random())
    return {"path": LINEITEM, "rows": pq.read_metadata(LINEITEM).num_rows, "shift": shift}


# Documents ----------------------------------------------------------------

def documents(work: str, seed: int) -> dict:
    """The sf0.1 documents table with its rows in a seeded order.

    The rows, and so every order-insensitive result over them, are the same
    for every seed; only the physical layout the engine scans changes.
    """
    root = os.path.join(work, "inputs", f"documents-sf01-seed{seed}")

    def build(path):
        table = pq.read_table(DOCUMENTS)
        order = np.random.default_rng(seed).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(path, "documents.parquet"))

    _cached(root, build)
    with open(DOCUMENTS, "rb") as fh:
        sha1 = hashlib.sha1(fh.read()).hexdigest()
    return {
        "path": os.path.join(root, "documents.parquet"),
        "rows": pq.read_metadata(DOCUMENTS).num_rows,
        "sha1": sha1,
    }
