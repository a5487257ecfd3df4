"""Per-layer metrics of a traced run.

Spark-side layers come from the run's own application: its event log (job
groups set around each public call) and two extra tagged jobs, a pyscan
read and the salt plan. Kernel layers come from replaying the committed
``part_id`` groups in this process through ``encode._encode_group`` and
``decode._decode_group`` with the kernel wrappers of ``tracing`` in place.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from perfbench import tracing

MB = float(1 << 20)
CODECS = ("raw", "dict", "rle", "for", "fsst", "gdelta", "dbp", "base")
# the replayed kernel spans must cover the replay loop's wall to this share
REPLAY_COVER_TOL = 0.05
# replayed encode-kernel time against the Spark kernel stage's summed task
# time: the stage also moves rows through Arrow and commits, and runs its
# tasks side by side, so only the order of magnitude must agree
STAGE_RATIO_RANGE = (0.2, 1.5)


def metric_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order.
    Each is measured on both workloads; a layer figure that is 0 on one of
    them (spill, chain probes and wins, FSST decode, blocks of one light
    codec, the per-query figures) is in the detail record instead."""
    m = [
        ("session.start_s", "s", "lower"), ("session.warmup_s", "s", "lower"),
        ("pyscan.s", "s", "lower"), ("pyscan.floor_s", "s", "lower"),
        ("pyscan.crossing_s", "s", "lower"),
        ("partitioning.s", "s", "lower"), ("partitioning.groups", "count", "higher"),
        ("partitioning.group_skew", "ratio", "lower"),
        ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"), ("shuffle.write_mb", "MB", "lower"),
        ("shuffle.read_mb", "MB", "lower"),
        ("encode.kernel_self_s", "s", "lower"), ("encode.group_s_p50", "s", "lower"),
        ("encode.group_s_max", "s", "lower"), ("encode.cluster_s", "s", "lower"),
        ("encode.clusters", "count", "lower"), ("encode.delta_clusters", "ratio", "higher"),
        ("chooser.s", "s", "lower"), ("chooser.calls", "count", "lower"),
        ("chooser.fsst_measures", "count", "lower"), ("chooser.probe_s", "s", "lower"),
        ("chooser.probe_calls", "count", "lower"),
        ("blocks.encode_self_s", "s", "lower"), ("blocks.encode_calls", "count", "lower"),
        ("blocks.discarded", "count", "lower"), ("blocks.zlib_s", "s", "lower"),
        ("blocks.zlib_wins", "count", "higher"), ("blocks.zlib_tries", "count", "lower"),
        ("blocks.decode_self_s", "s", "lower"),
        ("gdelta.encode_s", "s", "lower"), ("gdelta.encode_mbps", "MB/s", "higher"),
        ("gdelta.single_row_calls", "count", "lower"), ("gdelta.group_calls", "count", "lower"),
        ("gdelta.decode_s", "s", "lower"), ("gdelta.decode_mbps", "MB/s", "higher"),
        ("gdelta.decode_batch_share", "ratio", "higher"),
        ("light.encode_s", "s", "lower"), ("light.decode_s", "s", "lower"),
        ("fsst.encode_s", "s", "lower"),
        ("codec.gdelta.blocks", "count", "lower"), ("codec.base.blocks", "count", "lower"),
        ("warehouse.pending_s", "s", "lower"), ("warehouse.commit_s", "s", "lower"),
        ("warehouse.files", "count", "lower"), ("warehouse.blob_mb", "MB", "lower"),
        ("warehouse.base_mb", "MB", "lower"), ("warehouse.overhead_mb", "MB", "lower"),
        ("decode.read_blocks_s", "s", "lower"), ("decode.kernel_self_s", "s", "lower"),
        ("decode.group_s_p50", "s", "lower"), ("decode.group_s_max", "s", "lower"),
        ("kernel.gdelta_share", "share", "higher"),
        ("kernel.chooser_light_share", "share", "higher"),
        ("ops.build_s", "s", "lower"), ("ops.exec_s", "s", "lower"), ("ops.jobs", "count", "lower"),
    ]
    return m


# -- Spark side, while the session is up --------------------------------------


def spark_side(spark, corpus: Path, cpus: int) -> dict:
    """The pyscan read and the salt plan as their own tagged jobs, and the
    in-process pyarrow floor of the same scan."""
    import pyspark.sql.functions as F

    from gdelta_spark.pipeline import partitioning, pyscan

    sc = spark.sparkContext
    sc.setJobGroup("pyscan", "pyscan.scan_tokens_binary")
    t0 = time.perf_counter()
    pyscan.scan_tokens_binary(spark, str(corpus)).write.format("noop").mode("overwrite").save()
    scan_s = time.perf_counter() - t0

    sc.setJobGroup("partitioning", "partitioning.with_salt")
    narrow = spark.read.parquet(str(corpus)).select("doc_id", "n_tok", "source")
    t0 = time.perf_counter()
    sizes = [
        int(r["b"])
        for r in partitioning.with_salt(
            narrow, partitioning.DEFAULT_GROUP_BYTES, stats_df=narrow
        ).groupBy("part_id").agg((F.sum("n_tok") * 4).alias("b")).collect()
    ]
    part_s = time.perf_counter() - t0
    tracing.clear_job_group(sc)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(cpus) as pool:
        list(pool.map(_floor_read, pyscan._plan_splits(str(corpus))))
    floor_s = time.perf_counter() - t0
    return {
        "pyscan.s": scan_s,
        "pyscan.floor_s": floor_s,
        "pyscan.crossing_s": scan_s - floor_s,
        "partitioning.s": part_s,
        "partitioning.groups": len(sizes),
        "partitioning.group_skew": max(sizes) / statistics.median(sizes),
    }


def _floor_read(split: tuple[str, int]) -> int:
    import pyarrow.parquet as pq

    from gdelta_spark.pipeline.serde import _list_chunk_to_binary, capped_token_batches

    f, rg = split
    tbl = pq.ParquetFile(f).read_row_group(rg, columns=["doc_id", "tokens", "n_tok", "source"])
    n = 0
    for batch in tbl.to_batches():
        for sub in capped_token_batches(batch):
            n += len(_list_chunk_to_binary(sub.column("tokens")))
    return n


# -- kernel replay -----------------------------------------------------------------


def _read_blocks(wh_root: Path):
    import pyarrow.parquet as pq

    return [pq.read_table(p).to_pandas() for p in sorted((wh_root / "blocks").glob("*.parquet"))]


def _encode_inputs(corpus: Path, block_frames) -> list:
    """The committed part_id groups, rebuilt from the corpus: each group's
    rows are the doc_ids its committed data blocks list."""
    import pandas as pd
    import pyarrow.dataset as pads

    from gdelta_spark.pipeline.serde import _list_chunk_to_binary

    part_of = {}
    for bf in block_frames:
        for pid, bid, ids in zip(bf["part_id"], bf["block_id"], bf["doc_ids"]):
            if bid >= 0:
                for d in ids:
                    part_of[d] = pid
    rows: dict[str, tuple[list, list]] = {}
    for batch in pads.dataset(str(corpus), format="parquet").to_batches(columns=["doc_id", "tokens"]):
        blobs = _list_chunk_to_binary(batch.column("tokens")).to_pylist()
        for d, b in zip(batch.column("doc_id").to_pylist(), blobs):
            ids, bs = rows.setdefault(part_of[d], ([], []))
            ids.append(d)
            bs.append(b)
    return [
        pd.DataFrame({"part_id": pid, "doc_id": ids, "tok_bytes": bs})
        for pid, (ids, bs) in sorted(rows.items())
    ]


def _blob_digest(frames) -> str:
    h = hashlib.sha256()
    for f in sorted(frames, key=lambda f: f["part_id"].iloc[0]):
        for pid, bid, blob in sorted(zip(f["part_id"], f["block_id"], f["blob"])):
            h.update(f"{pid}/{bid}".encode())
            h.update(bytes(blob))
    return h.hexdigest()


def replay_encode(inputs, wh_tmp: Path) -> dict:
    from gdelta_spark.pipeline import encode
    from gdelta_spark.pipeline.warehouse import Warehouse

    tr = tracing.Tracer()
    outs = []
    t0 = time.perf_counter()
    with tracing.kernel_wrappers(tr):
        for pdf in inputs:
            with tr.span("encode.group", part=pdf["part_id"].iloc[0]):
                outs.append(encode._encode_group(pdf))
    wall = time.perf_counter() - t0
    wh = Warehouse(str(wh_tmp))
    t0 = time.perf_counter()
    for out in outs:
        pid = out["part_id"].iloc[0]
        wh.commit_partition(pid, out, {"part_id": pid, "n_blocks": int(len(out))})
    commit_s = time.perf_counter() - t0
    return {"tracer": tr, "outs": outs, "wall": wall, "commit_s": commit_s}


def replay_decode(block_frames) -> dict:
    from gdelta_spark.pipeline import decode

    tr = tracing.Tracer()
    t0 = time.perf_counter()
    with tracing.kernel_wrappers(tr):
        for bf in block_frames:
            with tr.span("decode.group", part=bf["part_id"].iloc[0]):
                decode._decode_group(bf)
    return {"tracer": tr, "wall": time.perf_counter() - t0}


def _by_name(tr: tracing.Tracer) -> dict[str, list]:
    """Span name -> [(span, self time)]."""
    by_name: dict[str, list] = {}
    for s, st in zip(tr.spans, tr.self_times()):
        by_name.setdefault(s.name, []).append((s, st))
    return by_name


def _dur(by_name, *names) -> float:
    return sum(s.dur for n in names for s, _ in by_name.get(n, []))


def _self(by_name, *names) -> float:
    return sum(st for n in names for _, st in by_name.get(n, []))


def _count(by_name, *names) -> int:
    return sum(len(by_name.get(n, [])) for n in names)


def kernel_counts(enc: dict, inputs: list) -> dict:
    """Deterministic counts of one encode replay: chooser picks, blocks by
    codec, clusters tried (at least MIN_CLUSTER_ROWS rows) and admitted as
    delta clusters, bases, chain wins, and a digest of every blob."""
    from gdelta_spark.codecs import core

    by_name = _by_name(enc["tracer"])
    picks = Counter(core.CODEC_NAMES[s.attrs["pick"]] for s, _ in by_name.get("chooser", []))
    blocks = Counter()
    for out in enc["outs"]:
        blocks.update(out["codec"])
    # a tried cluster is admitted when its first row (the doc_id-sorted
    # group's row index) is elected as a base; a group's rest pool can carry
    # a base too, without being a tried cluster
    tried = admitted = 0
    clusters = [s for s, _ in by_name.get("encode.cluster", [])]
    for pdf, out, cl in zip(inputs, enc["outs"], clusters):
        ids = sorted(pdf["doc_id"])
        firsts = {ids[i] for i in cl.attrs["firsts"]}
        tried += len(firsts)
        admitted += sum(
            d[0] in firsts for d, bid in zip(out["doc_ids"], out["block_id"]) if bid < 0
        )
    return {
        "chooser_picks": dict(sorted(picks.items())),
        "blocks": dict(sorted(blocks.items())),
        "clusters": tried,
        "delta_clusters": admitted,
        "bases": int(blocks.get("base", 0)),
        "chain_wins": sum(
            int(((o["block_id"] < 0) & (o["base_doc_id"] != o["doc_ids"].map(lambda x: x[0]))).sum())
            for o in enc["outs"]
        ),
        "blob_sha256": _blob_digest(enc["outs"]),
    }


# -- assembly --------------------------------------------------------------------


def collect(*, log_dir: Path, app_id: str, corpus: Path, wh_root: Path, reps: list,
            queries: dict, setup: dict, side: dict, work: Path) -> dict:
    """All per-layer metrics, plus the checks of the traced run."""
    from gdelta_spark.codecs import core

    log = tracing.read_event_log(str(log_dir), app_id)
    last = f"encode-{len(reps) - 1}"
    enc_g = tracing.group_totals(log, last)
    dec_g = tracing.group_totals(log, "decode")

    t0 = time.perf_counter()
    frames = _read_blocks(wh_root)
    read_s = time.perf_counter() - t0
    inputs = _encode_inputs(corpus, frames)
    enc = replay_encode(inputs, work / "wh-replay")
    enc2 = replay_encode(inputs, work / "wh-replay2")
    dec = replay_decode(frames)
    counts, counts2 = kernel_counts(enc, inputs), kernel_counts(enc2, inputs)
    committed_sha = _blob_digest(frames)

    eb = _by_name(enc["tracer"])
    db = _by_name(dec["tracer"])
    both = [eb, db]

    def tot_self(*names):
        return sum(_self(b, *names) for b in both)

    # encode-side bookkeeping from the replay outputs
    outs = enc["outs"]
    n_out = sum(len(o) for o in outs)
    base_ids = {ids[0] for o in outs for ids, bid in zip(o["doc_ids"], o["block_id"]) if bid < 0}
    delta_data_blocks = sum(
        int(((o["block_id"] >= 0) & o["base_doc_id"].isin(base_ids)).sum()) for o in outs
    )
    top_block_calls = [
        s for s, _ in eb.get("blocks.encode", [])
        if s.parent is not None and enc["tracer"].spans[s.parent].name == "encode.group"
    ]
    chain_probes = sum(
        1 for s in top_block_calls if s.attrs.get("codec_in") == core.GDELTA
    ) - delta_data_blocks
    children: dict[int, list] = {}
    for s in enc["tracer"].spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    raw_fallbacks = sum(
        1 for s, _ in eb.get("blocks.encode", [])
        if s.attrs.get("codec_in") != core.RAW
        and any(c.name == "codec.encode" and c.attrs["codec"] == core.RAW
                for c in children.get(s.sid, []))
    )
    clusters_tried = counts["clusters"]

    enc_groups = [s.dur for s, _ in eb.get("encode.group", [])]
    dec_groups = [s.dur for s, _ in db.get("decode.group", [])]
    kernel_total = sum(enc_groups) + sum(dec_groups)
    gdelta_enc = ("gdelta.encode_group", "gdelta.encode_row", "gdelta.base_index")
    gdelta_dec = ("gdelta.decode_row", "gdelta.decode_batch")
    gd_enc_bytes = sum(s.attrs.get("bytes", 0) for n in ("gdelta.encode_group", "gdelta.encode_row")
                       for s, _ in eb.get(n, []))
    gd_dec_bytes = sum(s.attrs.get("bytes", 0) for n in gdelta_dec for s, _ in db.get(n, []))
    gd_dec_rows = sum(s.attrs.get("rows", 0) for n in gdelta_dec for s, _ in db.get(n, []))
    gd_batch_rows = sum(s.attrs.get("rows", 0) for s, _ in db.get("gdelta.decode_batch", []))

    def codec_self(b, name, fsst: bool) -> float:
        return sum(st for s, st in b.get(name, []) if (s.attrs["codec"] == core.FSST) == fsst)

    blob_bytes = sum(int(f["enc_bytes"].sum()) for f in frames)
    base_bytes = sum(int(f.loc[f["block_id"] < 0, "enc_bytes"].sum()) for f in frames)
    files = [p for p in wh_root.rglob("*") if p.is_file()]
    disk = sum(p.stat().st_size for p in files)
    codec_blocks = Counter()
    for f in frames:
        codec_blocks.update(f["codec"])

    kernel_jobs = [j for j in log["jobs"].values() if j["group"] == last]
    first_kernel = min(
        (j["submit"] for j in kernel_jobs if j["call_site"].startswith("collect")),
        default=reps[-1]["encode_t0"],
    )
    kernel_stage_ms = max(
        (log["stages"][s]["run_ms"] for j in kernel_jobs for s in j["stages"] if s in log["stages"]),
        default=0,
    )

    m = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        **side,
        "spark.jobs": enc_g["jobs"] + dec_g["jobs"],
        "spark.stages": enc_g["stages"] + dec_g["stages"],
        "spark.tasks": enc_g["tasks"] + dec_g["tasks"],
        "shuffle.write_mb": (enc_g["shuffle_write"] + dec_g["shuffle_write"]) / MB,
        "shuffle.read_mb": (enc_g["shuffle_read"] + dec_g["shuffle_read"]) / MB,
        "encode.kernel_self_s": _self(eb, "encode.group"),
        "encode.group_s_p50": statistics.median(enc_groups),
        "encode.group_s_max": max(enc_groups),
        "encode.cluster_s": _dur(eb, "encode.cluster"),
        "encode.clusters": clusters_tried,
        "encode.delta_clusters": counts["delta_clusters"] / clusters_tried if clusters_tried else 0.0,
        "chooser.s": _dur(eb, "chooser"),
        "chooser.calls": _count(eb, "chooser"),
        "chooser.fsst_measures": _count(eb, "chooser.fsst_measure"),
        "chooser.probe_s": _dur(eb, "chooser.probe"),
        "chooser.probe_calls": _count(eb, "chooser.probe"),
        "blocks.encode_self_s": _self(eb, "blocks.encode"),
        "blocks.encode_calls": _count(eb, "blocks.encode"),
        # every base keeps one of its candidate blobs, every data block its
        # only one; the rest, and the losing side of a raw fallback, are waste
        "blocks.discarded": len(top_block_calls) - n_out + raw_fallbacks,
        "blocks.zlib_s": tot_self("blocks.zlib", "blocks.unzlib"),
        "blocks.zlib_wins": sum(1 for s, _ in eb.get("blocks.encode", []) if s.attrs.get("zlib")),
        "blocks.zlib_tries": _count(eb, "blocks.zlib"),
        "blocks.decode_self_s": _self(db, "blocks.decode"),
        "gdelta.encode_s": _self(eb, *gdelta_enc),
        "gdelta.encode_mbps": gd_enc_bytes / MB / max(_self(eb, *gdelta_enc), 1e-9),
        "gdelta.single_row_calls": _count(eb, "gdelta.encode_row"),
        "gdelta.group_calls": _count(eb, "gdelta.encode_group"),
        "gdelta.decode_s": _self(db, *gdelta_dec),
        "gdelta.decode_mbps": gd_dec_bytes / MB / max(_self(db, *gdelta_dec), 1e-9),
        "gdelta.decode_batch_share": gd_batch_rows / gd_dec_rows if gd_dec_rows else 0.0,
        "light.encode_s": codec_self(eb, "codec.encode", False),
        "light.decode_s": codec_self(db, "codec.decode", False),
        "fsst.encode_s": codec_self(eb, "codec.encode", True),
        "codec.gdelta.blocks": int(codec_blocks.get("gdelta", 0)),
        "codec.base.blocks": int(codec_blocks.get("base", 0)),
        "warehouse.pending_s": max(0.0, first_kernel - reps[-1]["encode_t0"]),
        "warehouse.commit_s": enc["commit_s"],
        "warehouse.files": len(files),
        "warehouse.blob_mb": blob_bytes / MB,
        "warehouse.base_mb": base_bytes / MB,
        "warehouse.overhead_mb": (disk - blob_bytes) / MB,
        "decode.read_blocks_s": read_s,
        "decode.kernel_self_s": _self(db, "decode.group"),
        "decode.group_s_p50": statistics.median(dec_groups),
        "decode.group_s_max": max(dec_groups),
        "kernel.gdelta_share": (_self(eb, *gdelta_enc) + _self(db, *gdelta_dec)) / kernel_total,
        "kernel.chooser_light_share": (
            tot_self("chooser", "chooser.probe", "chooser.fsst_measure", "codec.encode", "codec.decode")
            / kernel_total
        ),
    }
    for k in ("build_s", "exec_s", "jobs"):
        m[f"ops.{k}"] = sum(q.get(k, 0) for q in queries.values())

    self_sum = sum(sum(t.self_times()) for t in (enc["tracer"], dec["tracer"]))
    replay_wall = enc["wall"] + dec["wall"]
    stage_ratio = sum(enc_groups) / (kernel_stage_ms / 1000.0) if kernel_stage_ms else None
    cover = self_sum / replay_wall
    report = {
        "layer_detail": {
            "spill_mb": (enc_g["spill"] + dec_g["spill"]) / MB,
            "encode.chain_probes": chain_probes,
            "encode.chain_wins": counts["chain_wins"],
            "fsst.decode_s": codec_self(db, "codec.decode", True),
            **{f"codec.{c}.blocks": int(codec_blocks.get(c, 0)) for c in CODECS},
        },
        "kernel_shares": {
            "gdelta": m["kernel.gdelta_share"],
            "chooser_light_fsst": m["kernel.chooser_light_share"],
        },
        "reconcile": {
            "kernel_self_sum_s": self_sum,
            "replay_wall_s": replay_wall,
            "cover": cover,
            "cover_tolerance": REPLAY_COVER_TOL,
            "encode_stage_task_s": kernel_stage_ms / 1000.0,
            "replay_vs_stage": stage_ratio,
            "stage_ratio_range": STAGE_RATIO_RANGE,
        },
        "determinism": {
            "counts": {**counts, "files": reps[-1]["files"]},
        },
        "checks": {
            "cover_ok": abs(cover - 1.0) <= REPLAY_COVER_TOL,
            "stage_ok": stage_ratio is not None
            and STAGE_RATIO_RANGE[0] <= stage_ratio <= STAGE_RATIO_RANGE[1],
            "repeat_equal": counts == counts2,
            "replay_equals_committed": counts["blob_sha256"] == committed_sha,
        },
    }
    spans_path = work.parent / "traces" / f"{work.name}-spans.json"
    spans_path.parent.mkdir(parents=True, exist_ok=True)
    _dump_spans(spans_path, enc["tracer"], dec["tracer"])
    report["spans_file"] = os.path.relpath(spans_path, work.parent.parent)
    return {"metrics": m, "report": report}


def _dump_spans(path: Path, *tracers: tracing.Tracer) -> None:
    import json

    rows = []
    for k, tr in enumerate(tracers):
        for s in tr.spans:
            rows.append({"replay": k, "id": s.sid, "parent": s.parent, "name": s.name,
                         "t0": s.t0, "t1": s.t1, "attrs": s.attrs})
    path.write_text(json.dumps(rows, default=str))
