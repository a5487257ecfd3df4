"""Encode / decode / query benchmark for gdelta_spark.

    python3 perfbench/run.py --workload neardup_corpus --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. One run is one process: it
launches the driver JVM and starts a Spark session SETUP_SAMPLES times,
and the last session, a fresh application on local[<nproc>], runs the
warm-up, an encode and decode of the head of every corpus file that takes
the application's cold start (setup_s is the median start plus the
warm-up), and then drives the engine only through its public entry
points:

- ``pipeline.warehouse.encode_and_commit`` given the corpus parquet path,
- ``pipeline.decode.decode_tokens_bytes`` over ``Warehouse(root).read_blocks``,
- the workload's HEADLINE queries of ``__spark_entry__.queries()``, one pass.

The corpus is encoded, each time into a fresh warehouse, for
``--seconds`` and at least the workload's number of times, and the last
warehouse is decoded DECODES times; medians are reported. Outputs are
checked off the clock: every row of the last warehouse against its
source by doc_id, every query against its DuckDB oracle or stored hash.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer ones with ``--trace 1``. perfbench/README.md lists what
each metric means.

``--seed`` makes the token corpus. The queries read the fixed seed-42
sf0.01 tables under perfbench/testdata; no seed applies to them.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"

# bench.py's 20 headline queries, pinned here so a workload cannot change
# under a comparison, in two halves: the codec and text queries, and the
# dedup/ANN operators that share the per-application caches
CODEC_TEXT_QUERIES = (
    "roundtrip_auto", "roundtrip_gdelta", "compression_summary",
    "tokenize_stats", "vocab_topk", "bucket_histogram", "event_runs",
    "dedup_exact", "quality_ratios", "streaming_window_append",
)
DEDUP_ANN_QUERIES = (
    "ann_topk", "ann_lsh_best_pairs", "ann_ivf", "ann_ivf2", "ann_recall",
    "neardup_pairs", "neardup_components", "dedup_keep", "simhash_text",
    "embed_neardup_keep",
)
# the engine's seed-42 test tables the HEADLINE queries read, at sf0.01
QUERY_SF = Path(__file__).resolve().parent / "testdata" / "sf0.01"
# canonical result hashes of the queries that have no SQL oracle, taken
# from the engine at the commit that added the benchmark
EXPECTED = Path(__file__).resolve().parent / "expected_hashes.json"


@dataclass(frozen=True)
class Workload:
    regimes: tuple[str, ...]
    rows_per_regime: int
    families: int  # independent fixture seeds per regime
    heavy_share: float  # exact share of heavy-tail rows per regime (0: as drawn)
    queries: tuple[str, ...]
    encodes: int  # timed encodes per run, at least


WORKLOADS = {
    # eight template families per regime: with one family the storage
    # ratio swings ~13% from seed to seed (it hangs on the few elected
    # cluster bases); eight families bring that to ~5%. One encode per run
    # spread 0.24 (quartile distance / median over ten runs) here, against
    # 0.09 on light_corpus, so this workload times two.
    "neardup_corpus": Workload(("near-dup", "mixed-dup"), 800, 8, 0.0, DEDUP_ANN_QUERIES, 2),
    "light_corpus": Workload(
        ("runs", "lowcard", "narrow", "texty", "random", "monotonic"), 600, 1, 0.01,
        CODEC_TEXT_QUERIES, 1,
    ),
}
SETUP_SAMPLES = 2
WARM_ROWS = 2
DECODES = 3
DRIVER_MEM = "2g"

GB = 1e9
MB = float(1 << 20)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- environment and box context --------------------------------------------


def pin_environment(work: Path) -> dict:
    """Settings every run uses; recorded in the output."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": str(work / "tmp"),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def membw_probe() -> float:
    """1-core streaming memory bandwidth in GB/s, best of 3 (400 MB read +
    400 MB write per pass)."""
    import numpy as np

    a = np.zeros(50_000_000, dtype=np.int64)
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        a *= 1
        best = min(best, time.perf_counter() - t)
    return 0.8 / best


def loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def descendants() -> set[int]:
    """Live processes below this one (the driver JVM, the Python worker
    daemon and its workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                fields = Path(f"/proc/{d}/stat").read_text().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                parent[int(d)] = int(fields[1])
    tree = {os.getpid()}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= kids
        grew = bool(kids)
    return tree - {os.getpid()}


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the timeout."""
    end = time.monotonic() + timeout
    while True:
        alive = {p for p in pids if Path(f"/proc/{p}").exists()
                 and Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()[0] != "Z"}
        if not alive:
            return
        if time.monotonic() > end:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 10
        time.sleep(0.1)


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each page shared between
    processes split among them (the forked Python workers share most of
    theirs)."""
    for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return 0


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python workers) every 250 ms, shared pages counted once
    (summed PSS), and keeps the peak and its split by process kind."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        split = {"driver_python": 0, "jvm": 0, "python_workers": 0}
        for p in descendants() | {os.getpid()}:
            try:
                kind = ("driver_python" if p == os.getpid() else
                        "jvm" if Path(f"/proc/{p}/comm").read_text().strip() == "java" else
                        "python_workers")
                split[kind] += pss_bytes(p)
            except (OSError, IndexError, ValueError):
                pass
        total = sum(split.values())
        if total > self.peak:
            self.peak, self.peak_split = total, split

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(0.25)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=10)
        self._sample()
        return self.peak


# -- Spark session -------------------------------------------------------------


def start_session(work: Path, app: str, event_log: bool):
    from gdelta_spark.pipeline.session import get_spark

    extra = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = str(work / "eventlog")
        # one plain JSON-lines file per application, readable without a codec
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app, master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- correctness helpers ---------------------------------------------------------


def canon_hash(pdf) -> int:
    """tools/driver_check.py's canonical form: columns by name, rows sorted
    on every column, bit-pattern hash."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
    return int(pd.util.hash_pandas_object(pdf, index=False).sum())


def expected_hashes(names: tuple[str, ...]) -> dict:
    """Expected canonical hash of every named query: its DuckDB
    ``oracle_sql()`` result on the same tables or, for a query with no SQL
    oracle (compression_summary runs the encoder), the stored hash. The
    oracle results are computed once per checkout and kept, keyed by the
    oracle SQL and the table bytes."""
    import duckdb

    import __spark_entry__ as entry_mod

    sql = {n: q for n, q in entry_mod.oracle_sql().items() if n in names}
    tables = ("documents", "embeddings", "events")
    key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    for t in tables:
        key.update((QUERY_SF / f"{t}.parquet").read_bytes())
    cache = WORK_ROOT / f"oracle-{key.hexdigest()[:16]}.json"
    if cache.exists():
        out = json.loads(cache.read_text())
    else:
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{QUERY_SF / (t + '.parquet')}')")
        out = {n: canon_hash(con.execute(q).fetchdf()) for n, q in sql.items()}
        con.close()
        cache.write_text(json.dumps(out))
    stored = json.loads(EXPECTED.read_text())[QUERY_SF.name]
    out.update({n: stored[n] for n in names if n not in out})
    return out


# -- the workload phases --------------------------------------------------------


def corpus_facts(path: Path) -> tuple[int, int]:
    """(rows, raw int32 token bytes) from the corpus's n_tok column."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    n_tok = pads.dataset(str(path), format="parquet").to_table(columns=["n_tok"]).column("n_tok")
    return len(n_tok), 4 * int(pc.sum(n_tok).as_py())


def head_corpus(src: Path, dst: Path, rows: int) -> None:
    """The first ``rows`` rows of every file of a corpus, in the same layout."""
    import pyarrow.parquet as pq

    dst.mkdir()
    for f in sorted(src.glob("*.parquet")):
        pq.write_table(pq.read_table(f).slice(0, rows), dst / f.name)


def encode_rep(spark, corpus: Path, root: Path, tag: str | None) -> dict:
    """Encode the corpus into ``root``; with ``tag``, as a Spark job group."""
    from perfbench import tracing
    from gdelta_spark.pipeline.warehouse import encode_and_commit

    sc = spark.sparkContext
    if tag:
        sc.setJobGroup(tag, "encode_and_commit")
    t0 = time.time()
    summary = encode_and_commit(spark, str(corpus), str(root))
    encode_s = time.time() - t0
    if tag:
        tracing.clear_job_group(sc)
    files = [p for p in root.rglob("*") if p.is_file()]
    return {"encode_s": encode_s, "summary": summary, "encode_t0": t0,
            "disk_bytes": sum(p.stat().st_size for p in files), "files": len(files)}


def decode_walls(spark, root: Path, n: int, tag: str | None) -> list[float]:
    """Walls of ``n`` decodes of the warehouse into Spark's ``noop`` sink;
    with ``tag``, the first runs as a Spark job group."""
    from perfbench import tracing
    from gdelta_spark.pipeline.decode import decode_tokens_bytes
    from gdelta_spark.pipeline.warehouse import Warehouse

    sc = spark.sparkContext
    walls = []
    for k in range(n):
        if tag and k == 0:
            sc.setJobGroup(tag, "decode_tokens_bytes")
        t0 = time.time()
        decode_tokens_bytes(Warehouse(str(root)).read_blocks(spark)).write.format(
            "noop"
        ).mode("overwrite").save()
        walls.append(time.time() - t0)
        if tag and k == 0:
            tracing.clear_job_group(sc)
    return walls


def verify_decode(spark, corpus: Path, root: Path) -> tuple[int, int]:
    """(rows, wrong rows): every decoded row against the source row of its
    doc_id, as little-endian int32 bytes. A row missing or extra counts as
    wrong, and so does every decoded row beyond the first of its doc_id."""
    import numpy as np
    import pyarrow.dataset as pads

    from gdelta_spark.pipeline.decode import decode_tokens_bytes
    from gdelta_spark.pipeline.warehouse import Warehouse

    src = {}
    for batch in pads.dataset(str(corpus), format="parquet").to_batches(columns=["doc_id", "tokens"]):
        toks = batch.column("tokens")
        vals = toks.values.to_numpy().astype("<i4")
        off = toks.offsets.to_numpy()
        for i, d in enumerate(batch.column("doc_id").to_pylist()):
            src[d] = vals[off[i] : off[i + 1]].tobytes()
    dec = decode_tokens_bytes(Warehouse(str(root)).read_blocks(spark)).select(
        "doc_id", "tok_bytes"
    ).toArrow()
    got: dict = {}
    bad = 0
    for d, b in zip(dec.column("doc_id").to_pylist(), dec.column("tok_bytes").to_pylist()):
        if d in got:
            bad += 1
        got[d] = b
    extra = sum(d not in src for d in got)
    bad += extra + sum(got.get(d) != b for d, b in src.items())
    return len(src) + extra + len(dec) - len(got), bad


def query_pass(spark, sf: Path, names: tuple[str, ...], trace: bool) -> dict:
    """One pass of the named queries, each timed build + collect the way
    bench.py times it. Results are kept for checking after the clock."""
    import __spark_entry__ as entry_mod

    from perfbench import tracing

    qs = entry_mod.queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        if trace:
            sc.setJobGroup(f"q.{name}", name)
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, str(sf))
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            out[name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0,
                         "schema": df.schema, "rows": rows}
        except Exception as exc:  # noqa: BLE001 — a failed query is reported, not dropped
            log(f"query {name} failed: {exc!r}")
            out[name] = {"error": repr(exc), "wall_s": time.perf_counter() - t0}
        if trace:
            out[name]["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"q.{name}"))
    if trace:
        tracing.clear_job_group(sc)
    return out


def rows_to_pandas(rows, schema, timezone: str):
    """Collected rows -> the pandas frame ``toPandas()`` would give, through
    pyspark's own per-type converters (no second Spark job)."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    if not rows:
        return pd.DataFrame(columns=names)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=names)
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone=timezone, struct_in_pandas="row",
                error_on_duplicated_field_names=False, timestamp_utc_localized=False,
            )(pdf[f.name])
            for f in schema.fields
        ],
        axis="columns",
    )


def result_hashes(spark, results: dict) -> dict:
    """Canonical hash of every query result (None for a failed query)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    return {
        name: None if "error" in r else canon_hash(rows_to_pandas(r["rows"], r["schema"], tz))
        for name, r in results.items()
    }


def cache_entries(app_id: str) -> int:
    """Entries of this application in the ops modules' per-app caches."""
    from gdelta_spark.ops import ann, dedup

    n = 0
    for mod in (ann, dedup):
        for name, val in vars(mod).items():
            if name.endswith("_CACHE") and isinstance(val, dict):
                n += sum(1 for k in val if isinstance(k, tuple) and k and k[0] == app_id)
    return n


# -- main --------------------------------------------------------------------------


def work_dir(args) -> Path:
    return WORK_ROOT / f"{args.workload}-s{args.seed}-{os.getpid()}"


def run(args) -> dict:
    from perfbench import datagen

    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    work = work_dir(args)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = pin_environment(work)
    rss = PeakRss()
    rss.start()
    context = {"membw_gbps_1core": membw_probe(), "loadavg_before": loadavg()}

    # the streaming HEADLINE query stages its inbox and checkpoint in a
    # scratch directory; keep it inside the run's work directory
    import __spark_entry__ as entry_mod

    entry_mod._stream_tmpdir = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=work / "tmp")

    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = phases.get(name, 0.0) + now - mark[0]
        mark[0] = now

    corpus = work / "corpus"
    cpus = int(env["SPARK_GRAFT_CPUS"])
    datagen.write_corpus(
        str(corpus), args.seed, wl.regimes, wl.rows_per_regime, wl.families,
        wl.heavy_share, 2 * cpus,
    )
    n_rows, raw_bytes = corpus_facts(corpus)
    head_corpus(corpus, work / "corpus-head", WARM_ROWS)
    expected = expected_hashes(wl.queries)
    phase("inputs")

    # set-up: launch the driver JVM and start a session, SETUP_SAMPLES
    # times, each in a new JVM; the last session (a fresh application) runs
    # the warm-up and then the workload. The first encode and decode of an
    # application start the Python workers and run their plans and UDF
    # paths cold, seconds slower whatever the input size, so the warm-up is
    # an encode and a decode of the first WARM_ROWS rows of every corpus
    # file. setup_s is the median start plus the warm-up.
    starts = []
    for k in range(SETUP_SAMPLES):
        last = k == SETUP_SAMPLES - 1
        t0 = time.perf_counter()
        spark = start_session(work, f"perfbench-{args.workload}-{k}", event_log=trace and last)
        starts.append(time.perf_counter() - t0)
        if not last:
            spark.stop()
            stop_jvm()
    t0 = time.perf_counter()
    warm = encode_rep(spark, work / "corpus-head", work / "wh-warm", tag=None)
    warm_decode = decode_walls(spark, work / "wh-warm", 1, tag=None)
    setup = {"start_s": statistics.median(starts), "warmup_s": time.perf_counter() - t0,
             "start_samples_s": starts, "warmup_encode_s": warm["encode_s"],
             "warmup_decode_s": warm_decode[0]}
    phase("setup")
    app_id = spark.sparkContext.applicationId

    attempted = failed = 0

    def count_encode(summary: dict) -> None:
        nonlocal attempted, failed
        attempted += summary["partitions"]
        ok = summary["skipped"] == 0 and summary.get("rows") == n_rows
        failed += summary["partitions"] - (summary["encoded"] if ok else 0)

    # encodes repeat, each into a fresh warehouse, for --seconds and at
    # least wl.encodes times; the last warehouse is decoded DECODES times
    reps = []
    t_end = time.perf_counter() + args.seconds
    while len(reps) < wl.encodes or time.perf_counter() < t_end:
        root = work / f"wh{len(reps)}"
        reps.append(encode_rep(spark, corpus, root, tag=f"encode-{len(reps)}" if trace else None))
        count_encode(reps[-1]["summary"])
        if len(reps) > 1:
            shutil.rmtree(work / f"wh{len(reps) - 2}")
    last_root = work / f"wh{len(reps) - 1}"
    decodes = decode_walls(spark, last_root, DECODES, tag="decode" if trace else None)
    phase("encode_decode")
    queries = query_pass(spark, QUERY_SF, wl.queries, trace)
    phase("queries")

    # checks, after the clock: every row of the last warehouse, every query
    rows_checked, rows_bad = verify_decode(spark, corpus, last_root)
    attempted += rows_checked
    failed += rows_bad
    hashes = result_hashes(spark, queries)
    bad_queries = [n for n in wl.queries if hashes[n] != expected[n]]
    phase("checks")
    attempted += len(wl.queries)
    failed += len(bad_queries)
    n_cache = cache_entries(app_id)

    if trace:
        from perfbench import layers as layers_mod

        side = layers_mod.spark_side(spark, corpus, cpus)
    spark.stop()
    stop_jvm()
    phase("stop")
    if trace:
        layers = layers_mod.collect(
            log_dir=work / "eventlog", app_id=app_id, corpus=corpus, wh_root=last_root,
            reps=reps, queries=queries, setup=setup, side=side, work=work,
        )
        phase("trace")
    peak = rss.stop()

    end_to_end = {
        "encode_gbps": {"value": statistics.median([raw_bytes / r["encode_s"] / GB for r in reps]), "unit": "GB/s"},
        "decode_gbps": {"value": statistics.median([raw_bytes / s / GB for s in decodes]), "unit": "GB/s"},
        "storage_ratio": {"value": statistics.median([raw_bytes / r["disk_bytes"] for r in reps]), "unit": "x"},
        "query_suite_s": {"value": sum(q["wall_s"] for q in queries.values()), "unit": "s"},
        "setup_s": {"value": setup["start_s"] + setup["warmup_s"], "unit": "s"},
        "peak_rss_mb": {"value": peak / MB, "unit": "MB"},
    }
    context["loadavg_after"] = loadavg()
    context["peak_mb_by_process"] = {k: v / MB for k, v in rss.peak_split.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "environment": env,
        "box": context,
        "corpus": {"regimes": list(wl.regimes), "rows": n_rows, "raw_bytes": raw_bytes},
        "query_tables": f"{QUERY_SF.name}, the engine's seed-42 test tables; --seed does not apply",
        "encodes": [{k: r[k] for k in ("encode_s", "disk_bytes", "files")} for r in reps],
        "decode_s": decodes,
        "setup": setup,
        "phases_s": phases,
        "queries": {
            n: {k: q[k] for k in ("build_s", "exec_s", "wall_s", "jobs") if k in q}
            for n, q in queries.items()
        },
        "query_hashes": hashes,
        "bad_queries": bad_queries,
        "ops_cache_entries": n_cache,
        "decode_rows_checked": rows_checked,
        "decode_rows_bad": rows_bad,
    }
    if trace:
        units = {n: u for n, u, _ in layers_mod.metric_names()}
        metrics = {n: {"value": v, "unit": units[n]} for n, v in layers["metrics"].items()}
        detail["trace"] = layers["report"]
        # the traced run's own checks count as operations: self times that
        # cover the replay, a replay that matches the Spark kernel stage,
        # the committed blobs and itself, and deterministic counts equal to
        # those of the last traced run of this workload and seed
        checks = dict(layers["report"]["checks"])
        prior_counts = WORK_ROOT / f"traced-{args.workload}-s{args.seed}.json"
        counts = layers["report"]["determinism"]["counts"]
        if prior_counts.exists():
            checks["repeats_last_traced_run"] = json.loads(prior_counts.read_text()) == counts
        prior_counts.write_text(json.dumps(counts))
        detail["trace"]["checks"] = checks
        attempted += len(checks)
        failed += sum(not ok for ok in checks.values())
        detail["end_to_end_traced"] = {k: v["value"] for k, v in end_to_end.items()}
        prior = WORK_ROOT / f"untraced-{args.workload}-s{args.seed}.json"
        if prior.exists():
            base = json.loads(prior.read_text())
            detail["tracing_overhead"] = {
                k: detail["end_to_end_traced"][k] - base[k] for k in base
            }
    else:
        metrics = end_to_end
        (WORK_ROOT / f"untraced-{args.workload}-s{args.seed}.json").write_text(
            json.dumps({k: v["value"] for k, v in end_to_end.items()})
        )
    detail["error_rate"] = failed / attempted
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def check_declared(metrics: dict, section: str) -> None:
    """The metrics must be exactly those BENCHMARK.json declares, in the
    declared units."""
    declared = {
        m["name"]: m["unit"]
        for m in json.loads((ROOT / "BENCHMARK.json").read_text())[section]
    }
    got = {n: m["unit"] for n, m in metrics.items()}
    if got != declared:
        raise SystemExit(
            f"metrics differ from BENCHMARK.json {section}: "
            f"missing {sorted(set(declared) - set(got))}, extra {sorted(set(got) - set(declared))}, "
            f"units {sorted(n for n in got if n in declared and got[n] != declared[n])}"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "gdelta_spark" / "__init__.py").is_file():
        log(f"no gdelta_spark package under {ROOT}; run from a source checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    try:
        out = run(args)
    finally:
        # also on failure: no JVM, Python worker or work directory outlives the run
        pids = descendants()
        stop_jvm()
        wait_gone(pids, timeout=60)
        shutil.rmtree(work_dir(args), ignore_errors=True)
    check_declared(out["result"]["metrics"], "per_layer" if args.trace else "end_to_end")
    print(json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
