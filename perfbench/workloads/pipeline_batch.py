"""pipeline_batch: LLM-data-pipeline keys, built and materialized.

Each op builds one key from ``registry.queries()`` (the driver-side
build: Python, py4j and any eager jobs inside it) and writes the
result into Spark's ``noop`` sink (every column of every row computed,
nothing collected to the driver). One round runs the 8 keys in a
seeded order; the pass runs at least two rounds, so each key's median
comes from at least two runs.

Warm-up builds and collects every key once: that first, cold execution
is not timed in the pass. The check, after the pass, value-hashes the
collected rows (``tools/verify_local.py``'s canonical hash) against
each key's DuckDB oracle from ``registry.oracles()``.
"""

from __future__ import annotations

from workloads.base import Op, Workload as Base, duck

KEYS = (
    "pipeline_dedup_funnel", "dedup_minhash_lsh", "dedup_embedding_cosine",
    "sim_knn_cosine", "sim_tfidf_cosine", "sim_mmr_diversify",
    "text_ngram_novelty", "text_tokenize_tf",
)
ROUND_S = 9.0  # wall time of one round of the 8 keys on a 4-core host
MIN_ROUNDS = 2


class Workload(Base):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.cold: dict[str, tuple | str] = {}  # key -> (columns, rows) or error

    def attach(self, spark) -> None:
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.plans import registry

        self.session = spark
        Engine(spark, sf_dir=self.ctx.fixture_dir)
        self.queries = registry.queries()

    def warmup(self) -> None:
        """Build and collect every key once (cold, untimed)."""
        for key in KEYS:
            try:
                df = self.queries[key](self.session, self.ctx.fixture_dir)
                self.cold[key] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # counted as failed ops, run goes on
                self.cold[key] = f"{type(exc).__name__}: {exc}"[:500]

    def plan(self) -> list:
        rounds = max(MIN_ROUNDS, round(self.ctx.seconds / ROUND_S))
        ops = []
        for _ in range(rounds):
            order = list(KEYS)
            self.ctx.rng.shuffle(order)
            ops += [Op(k, "key") for k in order]
        return ops

    def run(self, op):
        tracer = self.ctx.tracer
        if tracer is None:
            df = self.queries[op.kind](self.session, self.ctx.fixture_dir)
            df.write.format("noop").mode("overwrite").save()
            return True
        base = tracer.group
        tracer.group = f"{base}-build"
        tracer.set_job_group()
        with tracer.span("registry.build"):
            df = self.queries[op.kind](self.session, self.ctx.fixture_dir)
        tracer.last_df = df
        tracer.group = f"{base}-exec"
        tracer.set_job_group()
        with tracer.span("noop.write"):
            df.write.format("noop").mode("overwrite").save()
        tracer.group = base
        return True

    def check(self, ops) -> dict[int, str]:
        """Hash each key's warm-up rows against its DuckDB oracle."""
        from algebraicdb_spark.plans import registry
        from tools.verify_local import value_hash

        oracles = registry.oracles()
        con = duck(self.ctx.fixture_dir)
        failures = {}
        for key, cold in self.cold.items():
            if isinstance(cold, str):
                failures[key] = cold
                continue
            rel = con.sql(oracles[key])
            want = value_hash(list(rel.columns), rel.fetchall())
            got = value_hash(*cold)
            if got != want:
                failures[key] = f"hash {got} != oracle {want}"
        con.close()
        return {i: failures[op.kind] for i, op in enumerate(ops) if op.kind in failures}
