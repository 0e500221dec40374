"""Correctness gate: a cheap, order-insensitive fingerprint check on
every op, and a DuckDB oracle check once per run.

The first op's output is collected together with its fingerprint (row
count plus the sum of a 64-bit row hash); every later op must reproduce
that fingerprint. Once per run, after the timed ops, the collected
output is compared with the query's registered DuckDB oracle
(``engine.ORACLES``) over the generated inputs, canonicalised exactly as
the repository's differential harness does (``tests/harness.py``).
"""

from __future__ import annotations

from collections.abc import Callable

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tests.harness import canon

TABLES = ("events", "documents", "embeddings")


class GateError(AssertionError):
    """An op output that differs from its oracle or reference."""


def oracle_df(sql: str, in_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'"
            )
        return con.execute(sql).df()
    finally:
        con.close()


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its fingerprint attached: computed in the same pass as
    whatever action runs the frame, so checking costs no extra job."""
    obs = Observation()
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(row_hash.cast("decimal(20,0)")).alias("h"),
        ),
        obs,
    )


def fingerprint(obs: Observation) -> tuple[int, str]:
    m = obs.get
    return int(m["n"]), str(m["h"])


def compare_to_oracle(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    gcols, grows = canon(got)
    wcols, wrows = canon(want)
    if gcols != wcols:
        raise GateError(f"{name}: columns {gcols} != oracle {wcols}")
    if len(grows) != len(wrows):
        raise GateError(f"{name}: {len(grows)} rows != oracle {len(wrows)}")
    if grows != wrows:
        first = next(i for i, (g, w) in enumerate(zip(grows, wrows)) if g != w)
        raise GateError(f"{name}: row {first} {grows[first]} != oracle {wrows[first]}")


class Gate:
    """Reference outputs and fingerprints per query.

    ``record`` keeps an op's collected output and fingerprint; ``check``
    compares a later op's fingerprint with it; ``verify`` compares the
    recorded outputs with their oracles. ``verify`` runs after the timed
    ops so that canonicalising large outputs neither lengthens set-up
    nor lands in the memory high-water mark: if it fails, every checked
    op was compared against a wrong reference and counts as failed."""

    def __init__(self) -> None:
        self.reference: dict[str, tuple[int, str]] = {}
        self.outputs: dict[str, pd.DataFrame] = {}

    def record(self, name: str, got: pd.DataFrame, fp: tuple[int, str]) -> None:
        if fp[0] != len(got):
            raise GateError(f"{name}: fingerprint counted {fp[0]} rows, collected {len(got)}")
        self.reference[name] = fp
        self.outputs[name] = got

    def check(self, name: str, fp: tuple[int, str]) -> bool:
        return self.reference.get(name) == fp

    def verify(self, oracle: Callable[[str], pd.DataFrame]) -> None:
        """Compare every recorded output with ``oracle(name)``."""
        for name in list(self.outputs):
            compare_to_oracle(name, self.outputs.pop(name), oracle(name))
