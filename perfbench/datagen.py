"""Seeded token corpora for the benchmark workloads: rows of
``gdelta_spark.fixtures`` laid out as the engine's generator lays them out,
a pure function of the seed.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

FAMILY_SEEDS = 64
HEAVY_TOKENS = 4096  # fixture rows are clipped to this length outside the heavy tail


def _regime_rows(seed: int, regime: str, rows: int, families: int, heavy_share: float):
    """(doc_id, tokens) rows of one regime. Family j takes fixture seed
    ``seed * FAMILY_SEEDS + j``. With ``heavy_share`` > 0 the rows are the
    first fixture rows that give exactly that share of heavy-tail rows
    (more than HEAVY_TOKENS tokens), so the tail's byte share does not
    swing from seed to seed."""
    from gdelta_spark import fixtures

    out = []
    per_family = rows // families
    for family in range(families):
        fseed = seed if families == 1 else seed * FAMILY_SEEDS + family
        prefix = regime if families == 1 else f"{regime}-f{family}"
        want_heavy = round(per_family * heavy_share)
        heavy, light = [], []
        i = 0
        while len(heavy) + len(light) < per_family:
            tokens = fixtures.make_tokens(fseed, regime, i)
            pick = heavy if heavy_share and tokens.size > HEAVY_TOKENS else light
            if len(pick) < (want_heavy if pick is heavy else per_family - want_heavy):
                pick.append((i, tokens))
            i += 1
        out += [(f"{prefix}-{k:08d}", t) for k, t in sorted(heavy + light, key=lambda r: r[0])]
    return out


def write_corpus(path: str, seed: int, regimes: tuple[str, ...], rows_per_regime: int,
                 families: int, heavy_share: float, n_files: int) -> None:
    """Token corpus in the layout of the engine's generator
    (``pipeline.generator.tokens_table`` over ``n_files`` partitions: regimes
    interleaved row by row, one parquet file and row group per partition),
    built in this process. With ``families`` > 1 a regime is the union of
    that many generator tables, each on its own fixture seed."""
    os.makedirs(path, exist_ok=True)
    by_regime = [
        _regime_rows(seed, r, rows_per_regime, families, heavy_share) for r in regimes
    ]
    rows = [(r, by_regime[k][i]) for i in range(rows_per_regime) for k, r in enumerate(regimes)]
    for f in range(n_files):
        part = rows[f * len(rows) // n_files : (f + 1) * len(rows) // n_files]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for _, (d, _) in part], pa.string()),
                    "tokens": pa.array([t for _, (_, t) in part], pa.list_(pa.int32())),
                    "n_tok": pa.array([t.size for _, (_, t) in part], pa.int32()),
                    "source": pa.array([r for r, _ in part], pa.string()),
                }
            ),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )
