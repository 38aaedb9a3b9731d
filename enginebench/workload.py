"""One benchmark run: set up, measure a closed-loop query window, probe
delete visibility, and in the traced run also one write round and the
in-process layer probes.

A run never writes outside ``work``, its directory in the checkout.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from parser_indexer_spark.analyze import tokenize_arrow
from parser_indexer_spark.build import build_index
from parser_indexer_spark.codec import decode_blocks
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.incremental import append_segment, upsert_segment
from parser_indexer_spark.merge import compact_segments, select_merges
from parser_indexer_spark.querystring import parse_query
from parser_indexer_spark.search import Index

from enginebench import queries as Q
from enginebench.corpora import Corpus, batch_frame, build_oracle, make_corpus
from enginebench.tracing import Tracer

# why each workload exists is recorded in BENCHMARK.json and README.md
WORKLOADS = {
    # the documents carry their own ids, like bench.py's documents index;
    # transcript turns get theirs from the engine's (conv_id, turn_idx) order
    "docs-query": {"corpus": "docs", "n": 5_000, "doc_id_col": "doc_id",
                   "cfg": {"n_buckets": 8, "salt_df_threshold": 100_000,
                           "chunk_bits": 12}},
    "turns-build-query": {"corpus": "turns", "n": 16_000, "doc_id_col": None,
                          "cfg": {"n_buckets": 16, "salt_df_threshold": 8_000,
                                  "n_salts": 8, "chunk_bits": 14}},
}
DELETE_PROBES = 3        # delete_visible_s is their median
DELETE_IDS = 2           # docs tombstoned per delete probe
WRITE_BATCH = 200        # rows per append / upsert batch in the write round
VISIBLE_TRIES = 5        # fresh-reader probes before a write counts failed
APPEND_TAG, UPSERT_TAG = "qqappended", "qqupserted"


@dataclass
class Run:
    spark: object
    tracer: Tracer
    corpus: Corpus
    root: str
    work: str
    cfg: EngineConfig
    seed: int
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    lat: dict = field(default_factory=lambda: {c: [] for c in Q.CLASSES})
    layer: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)

    def op(self, ok: bool | None, what: str) -> None:
        """Count one operation; ``ok`` None means it raised."""
        self.attempted += 1
        if ok is not True:
            self.failed += 1
            self.wrong += ok is False
            print(f"enginebench: FAILED {what}"
                  f"{' (wrong answer)' if ok is False else ''}",
                  file=sys.stderr)


def parquet_input(spark, pdf, path: str):
    """Write ``pdf`` as one parquet file and return Spark's scan of it."""
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return spark.read.parquet(path)


def setup(spark, tracer: Tracer, workload: str, seed: int, work: str,
          cpus: int) -> tuple[Run, dict]:
    spec = WORKLOADS[workload]
    cfg = EngineConfig(build_partitions=cpus, **spec["cfg"])
    with tracer.span("inputs.generate"):
        t0 = time.perf_counter()
        corpus = make_corpus(spec["corpus"], seed, spec["n"])
        src = parquet_input(spark, corpus.frame,
                            os.path.join(work, "input.parquet"))
        gen_s = time.perf_counter() - t0
    root = os.path.join(work, "index")
    with tracer.span("build.build_index"):
        t0 = time.perf_counter()
        manifest = build_index(
            spark, src, root, cfg, segments=1,
            input_desc=f"{workload} seed {seed}",
            doc_id_col=spec["doc_id_col"])
        build_s = time.perf_counter() - t0
    run = Run(spark, tracer, corpus, root, work, cfg, seed)
    run.layer["inputs.generate_s"] = gen_s
    with tracer.span("oracle.build"):
        oracle = build_oracle(corpus.frame["text"].tolist())
        pool = Q.make_pool(corpus, oracle, np.random.default_rng([seed, 1]),
                           cfg.impact_df_threshold)
    info = {"manifest": manifest, "build_s": build_s, "oracle": oracle,
            "pool": pool}
    return run, info


def open_index(run: Run) -> Index:
    with run.tracer.span("search.open"):
        t0 = time.perf_counter()
        ix = Index(run.spark, run.root)
        run.samples.setdefault("open_ms", []).append(
            (time.perf_counter() - t0) * 1e3)
    return ix


UNTRACED = Tracer(None, enabled=False)


def timed_query(run: Run, ix: Index, q: Q.Query, rid: int, traced: bool):
    """(seconds, answer or None if it raised) for one query; the plan and
    the collect are separate spans when ``traced``."""
    tr = run.tracer if traced else UNTRACED
    t0 = time.perf_counter()
    try:
        with tr.span(f"search.{q.cls}", rid=rid):
            with tr.span(f"search.{q.cls}.plan"):
                df = q.plan(ix, run.corpus)
            with tr.span(f"search.{q.cls}.exec"):
                got = q.execute(df)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, None
    return time.perf_counter() - t0, got


def warm_up(run: Run, ix: Index, pool) -> None:
    """One untimed query of every class, so that the window measures a
    warm reader: dictionary loaded, Python workers started. The window
    walks each pool from its first query, so the last one warms up."""
    for qs in pool.values():
        qs[-1].execute(qs[-1].plan(ix, run.corpus))


def query_window(run: Run, ix: Index, pool, seconds: float) -> dict:
    """The closed loop: one client, next query after the previous answer.
    Runs whole mix cycles until ``seconds`` have passed, so every run has
    the same share of each class. A traced run executes every query twice,
    traced and untraced in alternating order; the paired differences are
    the tracing overhead."""
    mix = Q.Mix(pool)
    traced = run.tracer.enabled
    untraced = {c: [] for c in Q.CLASSES}
    overhead = {c: [] for c in Q.CLASSES}
    t_start = time.perf_counter()
    rid = 0
    todo: list[Q.Query] = []
    while todo or time.perf_counter() - t_start < seconds:
        if not todo:
            todo = mix.cycle()
        q = todo.pop(0)
        rid += 1
        modes = ([True, False] if rid % 2 else [False, True]) if traced \
            else [False]
        dts = {}
        for tr_on in modes:
            dt, got = timed_query(run, ix, q, rid, tr_on)
            ok = None if got is None else Q.check(q, got, run.corpus)
            run.op(ok, f"{q.cls} {q.form} {q.text!r}")
            if ok:
                dts[tr_on] = dt
                # run.lat holds the run's own mode: traced in a traced run
                (run.lat if tr_on == traced else untraced)[q.cls].append(dt)
        if traced and len(dts) == 2:
            overhead[q.cls].append(dts[True] - dts[False])
    out = {"wall_s": time.perf_counter() - t_start,
           "queries": sum(len(v) for v in run.lat.values())}
    if traced:
        out["untraced"] = untraced
        out["overhead"] = overhead
    return out


def delete_probes(run: Run, oracle, pool) -> list[float]:
    """Tombstone the top docs of a top-k query through a writer handle and
    time until a freshly opened Index no longer returns them (and returns
    the oracle's answer without them)."""
    probes = [q for q in pool["topk"] if q.form == "or"]
    writer = open_index(run)
    deleted: list[int] = []
    out = []
    for i in range(DELETE_PROBES):
        q = probes[i % len(probes)]
        want = Q.ranked_expected(q, oracle, exclude=deleted)
        ids = [d for d, _ in want[:DELETE_IDS]]
        t0 = time.perf_counter()
        try:
            with run.tracer.span("search.delete_docs"):
                t_call = time.perf_counter()
                writer.delete_docs(ids)
                run.samples.setdefault("delete_docs_ms", []).append(
                    (time.perf_counter() - t_call) * 1e3)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            run.op(None, f"delete_docs {ids}")
            continue
        run.op(True, "delete_docs")
        deleted += ids
        want = Q.ranked_expected(q, oracle, exclude=deleted)
        ok = _until_visible(run, lambda ix: Q.ranked_ok(
            q.execute(ix.search(q.text, k=Q.K)), want))
        run.op(ok, f"delete visibility {q.text!r}")
        if ok:
            out.append(time.perf_counter() - t0)
    return out


def _until_visible(run: Run, probe) -> bool | None:
    """Open a fresh Index and run ``probe`` on it until it passes."""
    ok = None
    for _ in range(VISIBLE_TRIES):
        try:
            ok = bool(probe(open_index(run)))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = None
        if ok:
            return True
    return ok


# ------------------------------------------------------- write round ---

def _dir_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes in files that are new or rewritten since ``before``."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def write_round(run: Run, pool) -> None:
    """append -> upsert -> delete -> select_merges/compact_segments, each
    timed until a freshly opened Index reflects it. Between writes a reader
    handle answers a top-k query, checked against the exhaustive
    (``prune=False``) answer of the same handle. The reader opened before
    the compaction is queried after it: the engine removes the compacted
    segments' files, so that query fails, is counted, and the reader is
    reopened."""
    spark, tr, frame = run.spark, run.tracer, run.corpus.frame
    n0 = len(frame)
    probe_q = next(q for q in pool["topk"] if q.form == "or")
    written = 0

    def write(name, fn):
        nonlocal written
        before = _dir_state(run.root)
        with tr.span(name):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
        b = _written(before, _dir_state(run.root))
        written += b
        return dt, b

    def reader_query(ix, what):
        try:
            got = probe_q.execute(ix.search(probe_q.text, k=Q.K))
            ref = probe_q.execute(ix.search(probe_q.text, k=Q.K + Q.EXTRA,
                                            prune=False))
            run.op(Q.ranked_ok(got, ref), f"reader top-k {what}")
        except Exception:
            traceback.print_exc(file=sys.stderr)
            run.op(None, f"reader top-k {what}")
            return False
        return True

    def count(ix, tag, k):
        return len(ix.search(tag, k=k).collect())

    # append: new keys past the corpus's own, each text tagged
    first = n0 if run.corpus.name == "docs" else 10 ** 7
    # appended rows get their ids from the engine, like any streamed batch
    batch = batch_frame(run.corpus, run.seed + 1, WRITE_BATCH, first,
                        APPEND_TAG).drop(columns="doc_id", errors="ignore")
    ingested = int(batch["text"].str.encode("utf-8").str.len().sum())
    n_live = open_index(run).stats["n_docs"]
    t0 = time.perf_counter()
    dt, _ = write("incremental.append", lambda: append_segment(
        spark, run.root,
        parquet_input(spark, batch, os.path.join(run.work, "append.parquet")),
        run.cfg))
    ok = _until_visible(run, lambda ix: ix.stats["n_docs"] ==
                        n_live + len(batch)
                        and count(ix, APPEND_TAG, Q.K) == Q.K)
    run.op(ok, "append visibility")
    run.layer["incremental.append_s"] = dt
    run.layer["incremental.append_visible_s"] = time.perf_counter() - t0
    reader = open_index(run)
    reader_query(reader, "after append")

    # upsert: replace the current answer of probe_q plus further rows
    top = [d for d, _ in probe_q.execute(reader.search(probe_q.text,
                                                       k=Q.K)) if d < n0]
    rest = [d for d in range(n0) if d not in top][:WRITE_BATCH - len(top)]
    upd = frame.iloc[top + rest].drop(columns="doc_id", errors="ignore")
    upd["text"] = upd["text"] + f" {UPSERT_TAG}"
    ingested += int(upd["text"].str.encode("utf-8").str.len().sum())
    t0 = time.perf_counter()
    dt, _ = write("incremental.upsert", lambda: upsert_segment(
        spark, run.root,
        parquet_input(spark, upd, os.path.join(run.work, "upsert.parquet")),
        run.cfg))

    def upsert_visible(ix):
        got = {d for d, _ in probe_q.execute(ix.search(probe_q.text, k=Q.K))}
        return count(ix, UPSERT_TAG, len(upd) + 1) == len(upd) \
            and not got & set(top)
    ok = _until_visible(run, upsert_visible)
    run.op(ok, "upsert visibility")
    run.layer["incremental.upsert_s"] = dt
    run.layer["incremental.upsert_visible_s"] = time.perf_counter() - t0
    reader = open_index(run)
    reader_query(reader, "after upsert")

    # delete through a writer handle
    victims = [d for d, _ in probe_q.execute(reader.search(probe_q.text,
                                                           k=3))]
    writer = open_index(run)
    dt, _ = write("search.delete_docs", lambda: writer.delete_docs(victims))
    run.samples.setdefault("delete_docs_ms", []).append(dt * 1e3)
    ok = _until_visible(run, lambda ix: not {
        d for d, _ in probe_q.execute(ix.search(probe_q.text, k=Q.K))}
        & set(victims))
    run.op(ok, "delete visibility (write round)")
    reader = open_index(run)
    reader_query(reader, "after delete")

    # tiered merge of the two small segments the round added
    with tr.span("merge.select"):
        t0 = time.perf_counter()
        runs = select_merges(run.root)
        run.layer["merge.select_ms"] = (time.perf_counter() - t0) * 1e3
    newest = sorted(s["seg"] for s in reader.manifest["segments"])[-2:]
    chosen = next((r for r in runs if set(newest) <= set(r)), None)
    # the two equal-sized segments the round added must form a merge run
    run.op(chosen is not None, f"select_merges {runs} holds {newest}")
    chosen = chosen or newest
    n_tagged = count(reader, UPSERT_TAG, len(upd) + 1)
    dt, b = write("merge.compact", lambda: compact_segments(
        spark, run.root, chosen))
    run.layer["merge.compact_s"] = dt
    run.layer["merge.bytes_written"] = b
    fresh = open_index(run)
    run.op(count(fresh, UPSERT_TAG, len(upd) + 1) == n_tagged,
           "compaction visibility")
    run.layer["merge.segments_live"] = len(fresh.manifest["segments"])
    run.layer["deletes.tombstones"] = \
        (fresh.manifest.get("deletes") or {}).get("n", 0)
    stale = not reader_query(reader, "stale reader after compaction")
    run.layer["search.stale_reader_failed"] = int(stale)
    if stale:
        reader_query(open_index(run), "reopened reader")
    run.layer["incremental.write_amp"] = written / max(1, ingested)


# -------------------------------------------------- in-process probes ---

def _median_time(fn, reps: int = 3) -> float:
    """Median seconds of ``reps`` calls."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def layer_probes(run: Run, pool) -> None:
    """The in-process layers, on the workload's own texts and index."""
    texts = pa.array(run.corpus.frame["text"].tolist(), type=pa.string())
    with run.tracer.span("analyze.tokenize"):
        s = _median_time(lambda: tokenize_arrow(texts))
    run.layer["analyze.tokenize_mb_per_s"] = \
        run.corpus.text_bytes / 1e6 / s

    postings = pq.read_table(os.path.join(run.root, "postings"),
                             columns=["docs_enc", "tfs_enc", "num_docs"])
    docs, tfs = postings["docs_enc"].to_pylist(), \
        postings["tfs_enc"].to_pylist()
    ns = postings["num_docs"].to_numpy()
    with run.tracer.span("codec.decode"):
        s = _median_time(lambda: (decode_blocks(docs, ns),
                                  decode_blocks(tfs, ns)))
    run.layer["codec.decode_mpostings_per_s"] = int(ns.sum()) / 1e6 / s

    strings = [q.text for qs in pool.values() for q in qs]
    with run.tracer.span("querystring.parse"):
        s = _median_time(lambda: [parse_query(x) for x in strings * 50])
    run.layer["querystring.parse_us"] = s / (len(strings) * 50) * 1e6


def index_bytes(root: str) -> dict[str, int]:
    out = {"files": 0}
    for part in ("docs", "postings", "dict", "impacts"):
        out[part] = sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(root, part, "**", "*"), recursive=True)
            if os.path.isfile(p))
    for _, _, files in os.walk(root):
        out["files"] += len(files)
    out["total"] = sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(root) for f in fs)
    return out
