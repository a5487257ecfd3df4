"""Decode + verify jobs: encoded blocks -> tokens; equality check vs source.

Decode is one ``applyInPandas`` per part_id group: the 'base' bootstrap
blocks (block_id < 0, one per gdelta-coded cluster) are decoded first, then
every data block against its named base. Verify
joins decoded rows to the original table and asserts token-array equality —
the reference's own round-trip test lifted to table scale
(/root/reference/test.sh:8-24)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gdelta_spark import blocks
from gdelta_spark.codecs.delta import tokens_to_bytes
from gdelta_spark.pipeline import partitioning

DECODED_SCHEMA = "doc_id string, tok_bytes binary"


def _decode_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("block_id", ignore_index=True)
    base_rows = pdf[pdf["block_id"] < 0]
    # one bootstrap block per gdelta-coded cluster (encode.py), replayed in
    # EMISSION order (block_id -1, -2, ... i.e. reversed after the ascending
    # sort): a CHAINED bootstrap names its parent via base_doc_id (already
    # decoded by then) while its own id is doc_ids[0]; self-contained rows
    # have base_doc_id == doc_ids[0], which is absent from the dict at that
    # point, so base=None and the blob decodes standalone. Data blocks name
    # their base via base_doc_id; non-delta blocks never read one.
    bases: dict[str, bytes] = {}
    for bd, ids, blob in zip(
        base_rows["base_doc_id"][::-1], base_rows["doc_ids"][::-1],
        base_rows["blob"][::-1],
    ):
        arr = blocks.decode_block_rows(bytes(blob), base=bases.get(bd))[0]
        bases[list(ids)[0]] = tokens_to_bytes(arr)

    out_ids: list[str] = []
    out_bytes: list[bytes] = []
    data = pdf[pdf["block_id"] >= 0]
    for blob, ids, bd in zip(data["blob"], data["doc_ids"], data["base_doc_id"]):
        arrays = blocks.decode_block_rows(bytes(blob), base=bases.get(bd))
        ids = list(ids)
        if len(ids) != len(arrays):
            raise ValueError("doc_ids/rows mismatch in block")
        out_ids.extend(ids)
        out_bytes.extend(a.astype("<i4", copy=False).tobytes() for a in arrays)
    return pd.DataFrame({"doc_id": out_ids, "tok_bytes": out_bytes})


def decode_tokens_bytes(blocks_df: DataFrame) -> DataFrame:
    """blocks -> (doc_id, tok_bytes binary): binary stays binary through the
    Arrow boundary (the array<int> path is ~50x slower, see serde.py)."""
    return (
        partitioning.by_part(blocks_df)
        .groupBy("part_id")
        .applyInPandas(_decode_group, schema=DECODED_SCHEMA)
    )


def decode_tokens(blocks_df: DataFrame) -> DataFrame:
    """blocks -> (doc_id, tokens array<int>) for downstream consumers."""
    from gdelta_spark.pipeline import serde

    return serde.deserialize_tokens(decode_tokens_bytes(blocks_df), keep=("doc_id",))


def verify_roundtrip_bin(src_bin_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """Per-row equality report from a pre-serialized source (doc_id,
    tok_bytes). Binary equality == token-array equality (int32 LE is
    deterministic); the join and compare stay JVM-side."""
    src = src_bin_df.select(
        "doc_id", F.col("tok_bytes").alias("src_bytes")
    )
    decoded = decode_tokens_bytes(blocks_df).withColumnRenamed("tok_bytes", "dec_bytes")
    return src.join(decoded, "doc_id", "full").select(
        "doc_id",
        F.expr("src_bytes <=> dec_bytes").alias("ok"),
    )


def verify_partition_local(salted_bin_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """Partition-local verification: source rows and blocks are cogrouped on
    part_id and compared inside the kernel — no global doc_id shuffle, the
    100 TB-scale variant (SCALE.md). Returns (part_id, n_rows, n_ok)."""
    src = salted_bin_df.select("part_id", "doc_id", "tok_bytes")

    def cmp(src_pdf: pd.DataFrame, blk_pdf: pd.DataFrame) -> pd.DataFrame:
        part = (
            src_pdf["part_id"].iloc[0]
            if len(src_pdf)
            else blk_pdf["part_id"].iloc[0]
        )
        if len(blk_pdf) == 0:
            return pd.DataFrame(
                {"part_id": [part], "n_rows": [len(src_pdf)], "n_ok": [0]}
            )
        decoded = _decode_group(blk_pdf)
        # positional compare after sorting both sides by doc_id: duplicate
        # doc_ids verify each occurrence against its own decoded payload
        # instead of dict-collapsing to the last one (round-1 advice)
        src_ids = src_pdf["doc_id"].tolist()
        src_b = [bytes(b) for b in src_pdf["tok_bytes"]]
        dec_ids = decoded["doc_id"].tolist()
        dec_b = decoded["tok_bytes"].tolist()
        s_order = sorted(range(len(src_ids)), key=lambda i: src_ids[i])
        d_order = sorted(range(len(dec_ids)), key=lambda i: dec_ids[i])
        ok = 0
        if len(s_order) == len(d_order):
            ok = sum(
                1
                for i, j in zip(s_order, d_order)
                if src_ids[i] == dec_ids[j] and src_b[i] == dec_b[j]
            )
        return pd.DataFrame(
            {"part_id": [part], "n_rows": [len(src_pdf)], "n_ok": [ok]}
        )

    return (
        src.groupBy("part_id")
        .cogroup(blocks_df.groupBy("part_id"))
        .applyInPandas(cmp, schema="part_id string, n_rows long, n_ok long")
    )


def verify_roundtrip(tokens_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """Per-row equality report: (doc_id, ok). All-true == bit-identical
    corpus — the reference's round-trip test at table scale."""
    from gdelta_spark.pipeline import serde

    return verify_roundtrip_bin(
        serde.serialize_tokens(tokens_df, keep=("doc_id",)), blocks_df
    )
