"""Driver-side cost of the pipeline keys' builds: MMR's greedy rounds
run inside one Arrow task (a pure numpy function, checked here against
a plain-Python greedy), and each rewritten key's build runs a pinned
number of Spark jobs, counted the way ``tools/time_query.py`` counts
them (a job group read back through ``statusTracker``)."""

import math
import random

import duckdb
import numpy as np
import pytest

from algebraicdb_spark.operators.similarity import (
    _MMR_GRID,
    _MMR_MS_INIT,
    MMR_K,
    MMR_LAMBDA,
    _grid_sims,
    _mmr_picks,
    sim_mmr_diversify,
)
from algebraicdb_spark.plans import registry
from tools.time_query import timed_run
from tools.verify_local import value_hash


def _grid_sim(a, b) -> int:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return math.floor(acc * _MMR_GRID)


def _greedy_reference(ids, vecs, q, k, lam):
    """Textbook greedy MMR in plain Python floats, the oracle's CTE
    chain one round at a time."""
    cands = {i: (v, _grid_sim(q, v), _MMR_MS_INIT) for i, v in zip(ids, vecs)}
    picks = []
    for rank in range(1, k + 1):
        if not cands:
            break
        pick = max(
            cands,
            key=lambda i: (
                lam * float(cands[i][1]) - round(1 - lam, 10) * float(cands[i][2]),
                -i,
            ),
        )
        pv, rel_g, _ = cands.pop(pick)
        picks.append((rank, pick, rel_g / _MMR_GRID))
        cands = {
            i: (v, r, max(ms, _grid_sim(v, pv))) for i, (v, r, ms) in cands.items()
        }
    return picks


def _unit_rows(rng, n, d):
    rows = [[rng.gauss(0.0, 1.0) for _ in range(d)] for _ in range(n)]
    return [
        [float(np.float32(x / math.sqrt(sum(y * y for y in r)))) for x in r]
        for r in rows
    ]


@pytest.mark.parametrize("seed", range(6))
def test_mmr_picks_match_plain_python_greedy(seed):
    rng = random.Random(seed)
    n = rng.choice([3, 7, 25, 60])
    vecs = _unit_rows(rng, n, 16)
    # exact duplicates under shuffled ids: their scores tie in every
    # round, so only the vec_id ASC tie-break orders them
    vecs += [list(v) for v in vecs[: n // 3]]
    ids = rng.sample(range(1, 10 * len(vecs)), len(vecs))
    q = _unit_rows(rng, 1, 16)[0]
    for k in (1, MMR_K, len(ids) + 3):  # k > n returns every candidate
        got = _mmr_picks(
            np.array(ids, dtype=np.int64), np.array(vecs), np.array(q), k, MMR_LAMBDA
        )
        assert got == _greedy_reference(ids, vecs, q, k, MMR_LAMBDA)
        assert len(got) == min(k, len(ids))


def test_grid_sims_fold_left_to_right():
    """The oracle's fold order, not any other: 0.5 + 2⁻⁵⁴ rounds back
    to 0.5, so the last term lands just under the grid point; summing
    the two small terms first (or a BLAS ``E @ v``) lands on it."""
    E = np.array([[0.5, 2.0**-54, -(2.0**-54)]])
    v = np.ones(3)
    assert _grid_sims(E, v).tolist() == [_grid_sim(E[0], v)] == [499_999]


def test_mmr_picks_without_candidates_is_empty():
    assert _mmr_picks(
        np.zeros(0, dtype=np.int64), np.zeros((0, 4)), np.ones(4), MMR_K, MMR_LAMBDA
    ) == []


def test_mmr_plan_is_one_arrow_map(spark, sf_dir):
    plan = sim_mmr_diversify(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    assert plan.toString().count("MapInArrow") == 1


def test_mmr_rows_hash_to_the_oracle(spark, sf_dir):
    df = sim_mmr_diversify(spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(registry.oracles()["sim_mmr_diversify"])
    want = value_hash(list(rel.columns), rel.fetchall())
    con.close()
    assert len(rows) == MMR_K
    assert value_hash(df.columns, rows) == want


# Jobs each build runs. MMR runs none; the other two run only the
# exchanges and broadcasts under their localCheckpoint(eager=False)
# calls, which AQE executes at build time (see the comments there).
BUILD_JOBS = {
    "sim_mmr_diversify": 0,
    "sim_tfidf_cosine": 6,
    "dedup_embedding_cosine": 2,
}


@pytest.mark.parametrize("key", sorted(BUILD_JOBS))
def test_build_job_count_is_pinned(spark, sf_dir, tables, key):
    # `tables`: the session's one-time catalog load runs its own jobs
    # (a parquet schema inference per table)
    build = registry.queries()[key]
    _, build_jobs, _ = timed_run(spark, lambda: build(spark, sf_dir), f"{key}-pin")
    assert build_jobs == BUILD_JOBS[key]
