#!/usr/bin/env python3
"""Benchmark of the public ``linktransformer_spark`` API.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 10 --trace 0

Generates seeded inputs, starts a Spark session through ``lt.get_spark``
on ``local[<cpus>]``, drives one workload for ``--seconds`` of timed
operations, checks the outputs against answers the benchmark computes
itself, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs a separate traced pass and
reports the per-layer metrics. The exit code is non-zero when a check
fails. See perfbench/README.md for the workloads and metrics.

Runs from any working directory: the package is imported from the
directory above this file, and everything the run writes (inputs, Spark
scratch, event log) goes to ``.perfbench-run/`` there and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Tracer, find_event_log, layer_stats, read_event_log, task_skew  # noqa: E402

WORKLOADS = ("link_dedup_batch", "serve_mixed")
DRIVER_MEM = "2g"  # the heap fills to its cap, which steadies peak RSS
THRESHOLD = 0.8  # near_dup_pairs_minhash / dedup_minhash default

# input sizes and call counts, chosen so one run (session start
# included) takes about a minute on 4 cores. Per-call driver and job
# overhead dominates at these sizes; the first call of each operation
# in a process also pays code generation, JIT and Python worker start,
# so each operation runs once untimed first
LINK_RIGHT = 5000  # left = 2x; auto merge takes the broadcast-kNN tier
LINK_CHECK_SAMPLE = 256
DEDUP_DOCS = 4000
SERVE_REF = 1000
SERVE_WARMUP = 1  # untimed requests before the measured loop
SERVE_MIN_READS = 2  # and at least one write
TRACE_SERVE_REQUESTS = 3  # per pass, untraced then traced
MIN_OPS = 2  # timed calls of each batch operation per run at least, whatever --seconds says


T_START = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ resources


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    JVM, Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.2):
        import threading

        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self):
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            total = 0
            for pid in descendants(os.getpid()) + [os.getpid()]:
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    pass
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


# ------------------------------------------------------------ session


def configure_env(work: str) -> None:
    """Settings this harness needs that are not ``get_spark`` defaults:
    all local cores, a driver heap that fits the host, the package on
    the Python workers' path (they do not inherit ``sys.path``), and
    scratch files kept inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(lt, work: str, trace: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/events", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = lt.get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).collect()  # first job: the session is ready to serve
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while left := descendants(os.getpid()):
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.time() < deadline else signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)  # reaps direct children only
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.2)


def write_parquet(table: dict, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(table), path)
    return path


# ------------------------------------------------------------ run state


class Run:
    """Counts operations, collects failures and reported values."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.info: list[str] = []

    def op(self, fn, *a, **kw):
        """Run one operation; returns (result, seconds) or (None, None)
        when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return None, None
        return out, time.perf_counter() - t0

    def check(self, name: str, errs: list[str]) -> None:
        if errs:
            self.failed += 1
            self.errors.append(f"check {name} failed: " + "; ".join(errs[:5])
                               + (f" (+{len(errs) - 5} more)" if len(errs) > 5 else ""))

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """Highest percentile with at least ``beyond`` samples above it, as
    (value, percentile); None with too few samples."""
    xs = sorted(values)
    if len(xs) <= beyond:
        return None
    i = len(xs) - beyond - 1
    return xs[i], 100.0 * (i + 1) / len(xs)


def vectors(lt, *sides) -> list[dict]:
    """``lt.infer_embeddings`` vectors of several (id, name) frames in
    one Spark call: one {id: vector} dict per frame."""
    from functools import reduce

    from pyspark.sql import functions as F

    tagged = [df.select(F.lit(i).alias("side"), F.col(df.columns[0]).cast("long").alias("id"), "name")
              for i, df in enumerate(sides)]
    rows = lt.infer_embeddings(reduce(lambda a, b: a.unionByName(b), tagged), "name",
                               model="hash-ngram").select("side", "id", "embedding").collect()
    out = [{} for _ in sides]
    for side, i, v in rows:
        out[side][i] = v
    return out


# ------------------------------------------------------------ link_dedup_batch


def batch_setup(seed: int, work: str) -> dict:
    t = gen.link_tables(seed, LINK_RIGHT)
    d = gen.dedup_table(seed, DEDUP_DOCS)
    left = {k: t["left"][k] for k in ("lid", "name")}
    texts = dict(zip(d["docs"]["doc_id"], d["docs"]["text"]))
    return {
        "left": write_parquet(left, f"{work}/left.parquet"),
        "right": write_parquet(t["right"], f"{work}/right.parquet"),
        "truth": dict(zip(t["left"]["lid"], t["left"]["true_rid"])),
        "left_names": left["name"],
        "right_names": t["right"]["name"],
        "distinct_names": len(set(left["name"]) | set(t["right"]["name"])),
        "docs": write_parquet(d["docs"], f"{work}/docs.parquet"),
        "texts": texts,
        "planted": checks.planted_pairs(d["clusters"], texts, THRESHOLD),
    }


def link_merge(lt, left, right):
    return lt.merge(left, right, on="name", model="hash-ngram",
                    left_id_col="lid", right_id_col="rid").collect()


def dedup_survivors(lt, docs) -> list[int]:
    return [r[0] for r in lt.dedup_minhash(docs, "text", "doc_id").select("doc_id").collect()]


def near_dup_pairs(lt, docs, threshold: float = THRESHOLD) -> list[tuple[int, int, float]]:
    return [tuple(r) for r in lt.near_dup_pairs_minhash(docs, "text", "doc_id", threshold=threshold).collect()]


def link_check(run: Run, inp: dict, out_rows, lv: dict, rv: dict) -> float:
    """``lv``/``rv``: ``lt.infer_embeddings`` vectors of (a sample of)
    the left rows and of every right row. Returns recall@1."""
    import numpy as np

    got = {r["lid"]: (r["rid"], r["score"]) for r in out_rows}
    sample = sorted(inp["truth"])[:LINK_CHECK_SAMPLE]
    rids = sorted(rv)
    run.check("link top-1 equals exact numpy top-1", checks.check_merge_top1(
        got, sample, np.array([lv[i] for i in sample]), np.array([rv[i] for i in rids]), rids))
    run.check("link one row per left row",
              [] if len(got) == len(inp["truth"]) else [f"{len(got)} rows for {len(inp['truth'])} left rows"])
    return checks.recall_at_1(got, inp["truth"])


def dedup_check(run: Run, inp: dict, survivors, pairs) -> float:
    """``pairs``: ``near_dup_pairs_minhash`` at the same defaults — the
    pair graph ``dedup_minhash`` resolves. Returns planted-pair recall."""
    run.check("dedup pairs and survivors", checks.check_dedup(
        pairs, survivors, inp["texts"], THRESHOLD))
    return checks.pair_recall({(a, b) for a, b, _ in pairs}, inp["planted"])


def batch(run: Run, lt, spark, inp: dict, seconds: float) -> float:
    """One untimed merge and dedup call (they pay the process's
    first-call costs: code generation, JIT, Python worker start), then
    alternating timed calls until ``seconds`` have passed and each ran
    ``MIN_OPS`` times."""
    left, right, docs = (spark.read.parquet(inp[k]) for k in ("left", "right", "docs"))
    run.op(link_merge, lt, left, right)
    run.op(dedup_survivors, lt, docs)
    log("warm-up done")
    merges, dedups = [], []
    last = {}
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < seconds or min(len(merges), len(dedups)) < MIN_OPS) \
            and run.failed <= 3:
        for name, fn, times in (("merge", lambda: link_merge(lt, left, right), merges),
                                ("dedup", lambda: dedup_survivors(lt, docs), dedups)):
            out, dt = run.op(fn)
            if dt is not None:
                times.append(dt)
                last[name] = out
    log(f"merges {[round(t, 2) for t in merges]} dedups {[round(t, 2) for t in dedups]}")
    pairs, _ = run.op(near_dup_pairs, lt, docs)
    # check vectors from the library's numpy mirror of the hash-ngram
    # encoder, documented bit-identical to the relational encode behind
    # lt.infer_embeddings (the traced run checks against that one): the
    # relational encode's first call would add seconds to every run
    enc = lt.resolve_encoder("hash-ngram")
    sample = sorted(inp["truth"])[:LINK_CHECK_SAMPLE]  # lid == row position
    lv = dict(zip(sample, enc.encode_batch([inp["left_names"][i] for i in sample])))
    rv = dict(enumerate(enc.encode_batch(inp["right_names"])))
    link_recall = link_check(run, inp, last.get("merge", []), lv, rv)
    dedup_recall = dedup_check(run, inp, last.get("dedup", []), pairs or [])
    n_left, n_docs = len(inp["truth"]), len(inp["texts"])
    merge_s, dedup_s = statistics.median(merges), statistics.median(dedups)
    run.put("rows_per_s", (n_left + n_docs) / (merge_s + dedup_s), "rows/s")
    run.put("op_p50_s", merge_s + dedup_s, "s")
    run.put("recall", min(link_recall, dedup_recall), "ratio")
    run.info += [f"link_rows_per_s {n_left / merge_s:.1f} rows/s ({len(merges)} merges of "
                 f"{n_left} x {len(rv)} rows, median {merge_s:.3f} s)",
                 f"link_recall_at_1 {link_recall:.4f} ratio",
                 f"dedup_rows_per_s {n_docs / dedup_s:.1f} rows/s ({len(dedups)} calls, median {dedup_s:.3f} s)",
                 f"dedup_pair_recall {dedup_recall:.4f} ratio ({len(inp['planted'])} planted pairs)"]
    return 0.0


def batch_traced(run: Run, lt, spark, inp: dict, tracer: Tracer) -> dict:
    from linktransformer_spark.encoders.hash_ngram import HashNgramEncoder
    from linktransformer_spark.operators import knn_join

    left, right, docs = (spark.read.parquet(inp[k]) for k in ("left", "right", "docs"))
    for _ in range(2):  # first call warms up, second is the untraced reference
        _, plain_merge = run.op(link_merge, lt, left, right)
        _, plain_dedup = run.op(dedup_survivors, lt, docs)
    # child spans: the library's own calls into the knn_join and encoder
    # modules, so merge.self_s is the merge module's own share
    undo = [tracer.wrap(knn_join, "candidate_scores", "merge/knn_join"),
            tracer.wrap(HashNgramEncoder, "encode", "merge/encoders")]
    try:
        with tracer.span("merge") as merge_span:
            out, _ = run.op(link_merge, lt, left, right)
    finally:
        for u in undo:
            u()
    with tracer.span("encoders") as enc:
        lv, rv = vectors(lt, left.select("lid", "name"), right)
    enc.counts["keys"] = inp["distinct_names"]
    link_check(run, inp, out or [], lv, rv)
    schema = "vec_id long, embedding array<double>"
    ldf = spark.createDataFrame([(int(k), v) for k, v in lv.items()], schema)
    rdf = spark.createDataFrame([(int(k), v) for k, v in rv.items()], schema)
    with tracer.span("knn_join") as kj:
        run.op(lambda: lt.ann_topk(ldf, rdf, k=1, mode="broadcast_knn").collect())
    kj.counts["pairs_scored"] = len(lv) * len(rv)

    with tracer.span("dedup_minhash") as dedup_span:
        survivors, _ = run.op(dedup_survivors, lt, docs)
    with tracer.span("dedup") as d:
        pairs, _ = run.op(near_dup_pairs, lt, docs)
        pairs = pairs or []
    # every candidate passes a 0.0 threshold: the candidate count comes
    # from the public call itself
    with tracer.span("dedup.candidates"):
        cand, _ = run.op(near_dup_pairs, lt, docs, 0.0)
    d.counts["verified_pairs"] = len(pairs)
    d.counts["candidate_pairs"] = len(cand or [])
    dedup_check(run, inp, survivors or [], pairs)
    pdf = spark.createDataFrame(pairs, "src long, dst long, jaccard double")
    with tracer.span("components") as cc:
        run.op(lambda: lt.dedup_by_pairs(docs, pdf, "doc_id").select("doc_id").collect())
    cc.counts["edges"] = len(pairs)
    cc.counts["clusters"] = len(checks.components_of((a, b) for a, b, _ in pairs))
    overhead = (merge_span.wall - plain_merge + dedup_span.wall - plain_dedup
                if plain_merge and plain_dedup else 0.0)
    return {"overhead_s": overhead}


# ------------------------------------------------------------ serve_mixed


def serve_setup(seed: int, work: str) -> dict:
    s = gen.serve_stream(seed, SERVE_REF, 200)
    return {"ref_path": write_parquet(s["ref"], f"{work}/ref.parquet"),
            "ref": s["ref"], "requests": s["requests"], "index": f"{work}/index"}


def serve_build(lt, spark, inp: dict) -> None:
    """The one-time build a serving process pays: encode the reference
    corpus and persist the PQ index."""
    ref = spark.read.parquet(inp["ref_path"])
    lt.save_pq_index(lt.infer_embeddings(ref, "name", model="hash-ngram"), inp["index"],
                     vector_col="embedding", corpus_id="vec_id")


class Server:
    """Plays the request stream against the index, one request at a
    time (a closed loop with one client), and keeps what the checks
    need: each read's ranked results and how many vectors were indexed
    when it ran. With a tracer, the encode and the index call of each
    request are separate spans."""

    def __init__(self, lt, spark, inp: dict):
        self.lt, self.spark, self.inp = lt, spark, inp
        self.next = 0
        self.n_indexed = len(inp["ref"]["vec_id"])
        self.reads: list[tuple[dict, int, dict]] = []
        self.index_files = 0

    def _encode(self, rows, schema: str, tracer: Tracer | None):
        df = self.lt.infer_embeddings(self.spark.createDataFrame(rows, schema), "name", model="hash-ngram")
        if tracer is None:
            return df
        id_col = schema.split()[0]
        with tracer.span("encoders") as s:
            vec = df.select(id_col, "embedding").collect()
        s.counts["keys"] = len({r[1] for r in rows})
        return self.spark.createDataFrame(vec, f"{id_col} long, embedding array<double>")

    def request(self, tracer: Tracer | None = None) -> str:
        from contextlib import nullcontext

        req = self.inp["requests"][self.next]
        self.next += 1
        span = tracer.span if tracer else (lambda _: nullcontext())
        if req["kind"] == "write":
            enc = self._encode(list(zip(req["vec_id"], req["name"])), "vec_id long, name string", tracer)
            with span("index_write"):
                self.lt.append_to_pq_index(enc, self.inp["index"])
            self.n_indexed += len(req["vec_id"])
            if tracer:
                self.index_files = sum(len(f) for _, _, f in os.walk(self.inp["index"]))
            return "write"
        enc = self._encode(list(zip(req["qid"], req["name"])), "qid long, name string", tracer)
        with span("serving"):
            rows = self.lt.ann_topk_pq_indexed(self.spark, self.inp["index"], enc,
                                               vector_col="embedding", query_id="qid", k=10).collect()
        ranked: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            ranked.setdefault(r["query_id"], []).append((r["neighbor_id"], r["score"]))
        self.reads.append((req, self.n_indexed, ranked))
        return "read"


def serve_check(run: Run, lt, spark, inp: dict, server: Server) -> float:
    """Read-your-writes on every read that followed a write, and recall
    of each served top-10 against the exact top-10 over the vectors
    indexed when the read ran."""
    import numpy as np

    probes, names = [], {}
    for req, _, _ in server.reads:
        probes += list(zip(req["qid"], req["exact_ids"]))
        names.update(zip(req["qid"], req["name"]))
    ranked = {q: res for _, _, res in server.reads for q, res in res.items()}
    run.check("serve read-your-writes", checks.check_read_your_writes(ranked, probes))
    indexed = dict(zip(inp["ref"]["vec_id"], inp["ref"]["name"]))
    for req in inp["requests"][:server.next]:
        if req["kind"] == "write":
            indexed.update(zip(req["vec_id"], req["name"]))
    vv, qv = vectors(lt, spark.createDataFrame(list(indexed.items()), "vec_id long, name string"),
                     spark.createDataFrame(list(names.items()), "qid long, name string"))
    V = np.array([vv[i] for i in range(len(vv))])
    recalls, missing = [], []
    for req, n_idx, res in server.reads:
        for q in req["qid"]:
            if q in res:
                recalls.append(checks.recall_at_k([n for n, _ in res[q]], np.array(qv[q]), V[:n_idx], 10))
            else:
                missing.append(f"query {q}: no results")
    run.check("serve one result list per query", missing)
    return float(np.mean(recalls)) if recalls else 0.0


def serve_mixed(run: Run, lt, spark, inp: dict, seconds: float) -> float:
    _, build_s = run.op(serve_build, lt, spark, inp)
    log(f"index built in {build_s}")
    server = Server(lt, spark, inp)
    for _ in range(SERVE_WARMUP):
        run.op(server.request)
    log("warm-up done")
    reads, writes, names = [], [], 0
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < seconds or len(reads) < SERVE_MIN_READS or not writes) \
            and server.next < len(inp["requests"]) and run.failed <= 3:
        kind, dt = run.op(server.request)
        if kind == "read":
            reads.append(dt)
            names += len(inp["requests"][server.next - 1]["qid"])
        elif kind == "write":
            writes.append(dt)
    loop_s = time.perf_counter() - t0
    log(f"reads {[round(r, 2) for r in reads]} writes {[round(w, 2) for w in writes]}")
    recall = serve_check(run, lt, spark, inp, server)
    p50 = statistics.median(reads)
    run.put("rows_per_s", names / loop_s, "rows/s")
    run.put("op_p50_s", p50, "s")
    run.put("recall", recall, "ratio")
    t = tail(reads)
    run.info += [f"serve_p50_s {p50:.4f} s ({len(reads)} reads)",
                 f"serve_tail_s {t[0]:.4f} s (p{t[1]:.1f} of {len(reads)} reads)" if t else
                 f"serve_tail_s n/a ({len(reads)} reads; a tail needs more than 10)",
                 f"serve_qps {names / loop_s:.3f} queries/s",
                 f"serve_write_p50_s {statistics.median(writes):.4f} s ({len(writes)} writes)",
                 f"serve_recall_at_10 {recall:.4f} ratio"]
    return build_s if build_s is not None else float("nan")


def serve_traced(run: Run, lt, spark, inp: dict, tracer: Tracer) -> dict:
    """Index build, warm-up, then the same request kinds untraced and
    traced: ``trace.overhead_s`` compares their median read latency."""
    run.op(serve_build, lt, spark, inp)
    server = Server(lt, spark, inp)
    for _ in range(SERVE_WARMUP):
        run.op(server.request)
    plain, traced = [], []
    for out, trc in ((plain, None), (traced, tracer)):
        for _ in range(TRACE_SERVE_REQUESTS):
            kind, dt = run.op(server.request, trc)
            if kind == "read":
                out.append(dt)
    serve_check(run, lt, spark, inp, server)
    overhead = statistics.median(traced) - statistics.median(plain) if plain and traced else 0.0
    return {"overhead_s": overhead, "index_files": server.index_files}


# ------------------------------------------------------------ per-layer


PER_LAYER = {
    "session.start_s": "s",
    "encoders.wall_s": "s", "encoders.keys": "count", "encoders.keys_per_s": "keys/s",
    "encoders.jobs": "count", "encoders.shuffle_bytes": "bytes",
    "knn_join.wall_s": "s", "knn_join.pairs_scored": "count", "knn_join.executor_cpu_s": "s",
    "merge.wall_s": "s", "merge.self_s": "s", "merge.driver_s": "s", "merge.jobs": "count",
    "merge.tasks": "count", "merge.shuffle_bytes": "bytes",
    "dedup.wall_s": "s", "dedup.driver_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio", "dedup.shuffle_bytes": "bytes",
    "dedup.spill_bytes": "bytes", "dedup.task_skew": "ratio",
    "components.wall_s": "s", "components.jobs": "count", "components.edges": "count",
    "components.clusters": "count",
    "serving.wall_s": "s", "serving.driver_s": "s", "serving.jobs": "count", "serving.tasks": "count",
    "serving.input_bytes": "bytes",
    "index_write.wall_s": "s", "index_write.jobs": "count", "index_write.output_bytes": "bytes",
    "index.files": "count",
    "spark.gc_s": "s", "spark.failed_tasks": "count", "trace.overhead_s": "s",
}


def per_layer(tracer: Tracer, jobs, tasks, session_s: float, res: dict) -> dict[str, float]:
    st = layer_stats(tracer.spans, jobs, tasks)
    counts: dict[str, float] = {}
    for s in tracer.spans:
        for k, v in s.counts.items():
            counts[f"{s.name}.{k}"] = counts.get(f"{s.name}.{k}", 0) + v
    m = {k: 0.0 for k in PER_LAYER}

    def shuffle(ts):
        return sum(t.shuffle_write for t in ts)

    m["session.start_s"] = session_s
    if (e := st.get("encoders")):
        m.update({"encoders.wall_s": e.wall_s, "encoders.keys": counts.get("encoders.keys", 0),
                  "encoders.keys_per_s": counts.get("encoders.keys", 0) / e.wall_s,
                  "encoders.jobs": e.jobs, "encoders.shuffle_bytes": shuffle(e.tasks)})
    if (k := st.get("knn_join")):
        m.update({"knn_join.wall_s": k.wall_s, "knn_join.pairs_scored": counts.get("knn_join.pairs_scored", 0),
                  "knn_join.executor_cpu_s": sum(t.cpu_s for t in k.tasks)})
    if (g := st.get("merge")):
        # child spans wrap the library's own knn_join / encoder calls
        kids = [st[n] for n in ("merge/knn_join", "merge/encoders") if n in st]
        m.update({"merge.wall_s": g.wall_s, "merge.self_s": g.self_s, "merge.driver_s": g.driver_s,
                  "merge.jobs": g.jobs + sum(c.jobs for c in kids),
                  "merge.tasks": len(g.tasks) + sum(len(c.tasks) for c in kids),
                  "merge.shuffle_bytes": shuffle(g.tasks) + sum(shuffle(c.tasks) for c in kids)})
    if (d := st.get("dedup")):
        cand = counts.get("dedup.candidate_pairs", 0)
        ver = counts.get("dedup.verified_pairs", 0)
        m.update({"dedup.wall_s": d.wall_s, "dedup.driver_s": d.driver_s,
                  "dedup.candidate_pairs": cand, "dedup.verified_pairs": ver,
                  "dedup.verify_yield": ver / cand if cand else 0.0,
                  "dedup.shuffle_bytes": shuffle(d.tasks),
                  "dedup.spill_bytes": sum(t.spill_bytes for t in d.tasks),
                  "dedup.task_skew": task_skew(d.tasks)})
    if (c := st.get("components")):
        m.update({"components.wall_s": c.wall_s, "components.jobs": c.jobs,
                  "components.edges": counts.get("components.edges", 0),
                  "components.clusters": counts.get("components.clusters", 0)})
    if (s := st.get("serving")):
        m.update({"serving.wall_s": s.wall_s, "serving.driver_s": s.driver_s, "serving.jobs": s.jobs,
                  "serving.tasks": len(s.tasks), "serving.input_bytes": sum(t.input_bytes for t in s.tasks)})
    if (w := st.get("index_write")):
        m.update({"index_write.wall_s": w.wall_s, "index_write.jobs": w.jobs,
                  "index_write.output_bytes": sum(t.output_bytes for t in w.tasks),
                  "index.files": res.get("index_files", 0)})
    m["spark.gc_s"] = sum(t.gc_s for t in tasks)
    m["spark.failed_tasks"] = sum(1 for t in tasks if t.failed)
    m["trace.overhead_s"] = res["overhead_s"]
    return m


# ------------------------------------------------------------ main


SETUPS = {"link_dedup_batch": batch_setup, "serve_mixed": serve_setup}
UNTRACED = {"link_dedup_batch": batch, "serve_mixed": serve_mixed}
TRACED = {"link_dedup_batch": batch_traced, "serve_mixed": serve_traced}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import linktransformer_spark as lt
    except ImportError as e:
        print(f"perfbench: cannot import linktransformer_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-run", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    rss = RssSampler().start()
    run = Run()
    spark = None
    try:
        inp = SETUPS[args.workload](args.seed, work)  # generation: before timing
        log("inputs generated")
        configure_env(work)
        spark, session_s = start_session(lt, work, bool(args.trace))
        log(f"session ready in {session_s:.2f}s")
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            res = TRACED[args.workload](run, lt, spark, inp, tracer)
            stop_session(spark)
            spark = None
            jobs, tasks = read_event_log(find_event_log(f"{work}/events"))
            metrics = {k: (v, PER_LAYER[k]) for k, v in
                       per_layer(tracer, jobs, tasks, session_s, res).items()}
        else:
            setup_extra = UNTRACED[args.workload](run, lt, spark, inp, args.seconds)
            log("workload done")
            stop_session(spark)
            log("session stopped")
            spark = None
            run.put("setup_s", session_s + (setup_extra or 0.0), "s")
            run.put("peak_rss_mb", rss.stop(), "MB")
            metrics = run.metrics
            run.info.append(f"error_rate {run.failed / max(run.attempted, 1):.4f} ratio "
                            f"({run.failed} of {run.attempted} operations)")
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        base = os.path.dirname(work)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    for e in run.errors:
        print(e, file=sys.stderr)
    for line in run.info:
        print(line)
    ok = run.failed == 0
    print(json.dumps({
        "correct": ok, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
