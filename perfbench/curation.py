"""The ``curation_mix`` workload: registry probes over the sf0.1 tables
of the repository's test data, each forced through the noop sink and
checked against its DuckDB oracle.

``data/sf0.1`` holds byte-for-byte copies of the sf0.1 tables these
probes read, so a run reads only files inside the benchmark. The run's
seed picks the probe order.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import numpy as np

from flytemosaic_spark.probes import all_probes

from perfbench.tracing import percentile

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.1")

# probe -> (family, tables it reads). x24_curation_pipeline is left out:
# its DuckDB oracle alone took 5-8 s of every run and its 1.2 s probe
# pushed a round past what the run-time budget allows; its stages
# (quality gate, exact dedup, Jaccard near-dup) have their own probes
# here: x9, x1 and x2.
PROBES = {
    "x1_exact_dedup": ("dedup", ["documents"]),
    "x2_ngram_jaccard": ("dedup", ["documents"]),
    "x129_semdedup": ("dedup", ["embeddings"]),
    "x11_embedding_neardup": ("dedup", ["embeddings"]),
    "x243_web_dedup": ("dedup", ["supplier"]),
    "x9_quality_score": ("text", ["documents"]),
    "x238_langid": ("text", ["documents"]),
    "q05_local_supplier_volume": (
        "relational", ["customer", "orders", "lineitem", "supplier", "nation", "region"]
    ),
    "j10_grid_spatial_join": ("relational", ["part", "supplier"]),
}
FAMILIES = ("dedup", "text", "relational")
WARMUP_PROBE = "x238_langid"  # spawns the Python workers (mapInPandas)


def oracle_frames() -> dict:
    """Each probe's DuckDB oracle result over the tables in ``SF_DIR``."""
    import duckdb

    registry = all_probes()
    con = duckdb.connect()
    try:
        for t in sorted({t for _, tables in PROBES.values() for t in tables}):
            path = os.path.join(SF_DIR, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: con.execute(registry[n].sql).fetchdf() for n in PROBES}
    finally:
        con.close()


def _canonical_compare():
    """``compare`` from the repository's oracle gate (tools/), so the
    benchmark and the gate agree on what a matching result is."""
    tools = os.path.join(os.path.dirname(HERE), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_correctness import compare

    return compare


class CurationMix:
    """Closed loop, one client: every round runs each probe once, in a
    seeded order; an operation builds the probe's DataFrame (plan) and
    runs it into the noop sink (exec)."""

    name = "curation_mix"

    def __init__(self, seed: int, tracer, cores: int):
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 37])
        self.registry = all_probes()
        self.compare = _canonical_compare()

    def prepare(self, spark, workdir: str) -> None:
        self.spark, self.workdir = spark, workdir
        self.sizes = {
            t: os.path.getsize(os.path.join(SF_DIR, f"{t}.parquet"))
            for _, tables in PROBES.values() for t in tables
        }

    def prepare_checks(self) -> None:
        # DuckDB runs in a child process, so its memory stays out of the
        # driver's resident set
        os.makedirs(self.workdir, exist_ok=True)
        out = os.path.join(self.workdir, "oracle.pickle")
        subprocess.run(
            [sys.executable, "-m", "perfbench.curation", out], cwd=os.path.dirname(HERE), check=True
        )
        with open(out, "rb") as fh:
            self.oracle = pickle.load(fh)

    def warmup(self):
        return self.op(WARMUP_PROBE)

    def round(self) -> list:
        return [(name, lambda name=name: self.op(name)) for name in self.rng.permutation(list(PROBES))]

    def op(self, name: str):
        family, tables = PROBES[name]
        with self.tracer.span(f"probes.plan.{family}"):
            df = self.registry[name].fn(self.spark, SF_DIR)
        with self.tracer.span(f"probes.exec.{family}"):
            df.write.format("noop").mode("overwrite").save()
        nbytes = sum(self.sizes[t] for t in tables)
        return nbytes, lambda: self._check(name, df)

    def _check(self, name: str, df) -> bool:
        verdict = self.compare(df.toPandas(), self.oracle[name])
        if verdict.startswith(("EXACT", "CLOSE")):
            return True
        print(f"[perfbench] {name}: {verdict}", file=sys.stderr)
        return False

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for fam in FAMILIES:
            out[f"probes.plan_s.{fam}"] = percentile(self.tracer.durations(f"probes.plan.{fam}"), 50)
            out[f"probes.exec_s.{fam}"] = percentile(self.tracer.durations(f"probes.exec.{fam}"), 50)
        return out


if __name__ == "__main__":
    # python3 -m perfbench.curation OUT: pickle every probe's oracle result to OUT
    with open(sys.argv[1], "wb") as fh:
        pickle.dump(oracle_frames(), fh)
