"""Benchmark of the inverted-index engine: one command, one workload.

    python3 enginebench/run.py --workload docs-query --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. It starts Spark at
``local[<usable cores>]``, makes the workload's corpus from ``--seed``,
builds its index, runs one closed-loop client for ``--seconds`` seconds of
queries, checks every answer against the oracle, then times three deletes
until a freshly opened reader reflects them.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
work with spans, Spark job groups and the Spark event log, adds one write
round (append, upsert, delete, compaction) and the in-process layer probes,
and prints the per-layer metrics instead, with the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; nothing else is
written to standard output. Sample counts, host context and span self
times go to standard error as one ``enginebench-report`` JSON line.
Everything the run writes stays under ``enginebench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")


def _p50_ms(xs):
    return statistics.median(xs) * 1e3


def isolate(work: str, cpus: int, trace: bool) -> dict:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the engine importable by Spark's Python workers;
    returns the Spark confs to start the session with."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": java_opts,
        "SPARK_GRAFT_DRIVER_MEM": "3g",
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": events,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    return confs


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM pyspark launched, and wait for
    it to exit; its Python workers end with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(run, info, window, deletes, idx_bytes) -> dict:
    lat = run.lat
    return {
        "setup_s": (info["setup_s"], "s"),
        "topk_p50_ms": (_p50_ms(lat["topk"]), "ms"),
        "head_p50_ms": (_p50_ms(lat["head"]), "ms"),
        "phrase_p50_ms": (_p50_ms(lat["phrase"]), "ms"),
        "fullmatch_p50_ms": (_p50_ms(lat["fullmatch"]), "ms"),
        "queries_per_s": (window["queries"] / window["wall_s"], "1/s"),
        "build_turns_per_s": (len(run.corpus.frame) / info["build_s"],
                              "turns/s"),
        "index_bytes_per_input_byte": (idx_bytes["total"]
                                       / run.corpus.text_bytes, "ratio"),
        "delete_visible_s": (statistics.median(deletes), "s"),
    }


def per_layer(run, info, window, idx_bytes, host) -> dict:
    """Per-layer metrics from the traced run's spans, whose job groups
    already carry their event-log numbers (``Tracer.attach``)."""
    from enginebench.queries import CLASSES
    tr = run.tracer
    m = {"session.start_s": (info["session_s"], "s"),
         "inputs.generate_s": (run.layer["inputs.generate_s"], "s")}
    m["analyze.tokenize_mb_per_s"] = (run.layer["analyze.tokenize_mb_per_s"],
                                      "MB/s")

    # build: phases from the wall times the index itself records
    man = info["manifest"]
    with open(os.path.join(run.root, "docs", "_built.json")) as f:
        docs_s = json.load(f)["wall_sec"]
    seg_s = sum(s["wall_sec"] for s in man["segments"])
    span = tr.named("build.build_index")[0]
    buckets = [b["n_postings"] for s in man["segments"]
               for b in s["per_bucket"].values()]
    m.update({
        "build.wall_s": (info["build_s"], "s"),
        "build.docs_phase_s": (docs_s, "s"),
        "build.segment_s": (seg_s, "s"),
        "build.finalize_s": (man["wall_sec_total"] - docs_s - seg_s, "s"),
        "build.spark_jobs": (span["jobs"], "count"),
        "build.spark_tasks": (span["tasks"], "count"),
        "build.task_cpu_s": (span["cpu_ns"] / 1e9, "s"),
        "build.gc_s": (span["gc_ms"] / 1e3, "s"),
        "build.shuffle_write_bytes": (span["shuffle_write_bytes"], "bytes"),
        "build.spill_bytes": (span["spill_bytes"], "bytes"),
        "build.postings": (man["stats"]["n_postings"], "count"),
        "build.blocks": (man["stats"]["n_blocks"], "count"),
        "build.salted_terms": (sum(s["n_hot_terms_salted"]
                                   for s in man["segments"]), "count"),
        "build.impact_terms": (sum(s["n_impact_terms"]
                                   for s in man["segments"]), "count"),
        "build.bucket_skew": (max(buckets) / statistics.median(buckets),
                              "ratio"),
    })
    m["codec.decode_mpostings_per_s"] = (
        run.layer["codec.decode_mpostings_per_s"], "Mpostings/s")
    for part in ("docs", "postings", "dict", "impacts"):
        m[f"manifest.bytes.{part}"] = (idx_bytes[part], "bytes")
    m["manifest.files"] = (idx_bytes["files"], "count")
    m["querystring.parse_us"] = (run.layer["querystring.parse_us"], "us")
    m["search.open_ms"] = (statistics.median(run.samples["open_ms"]), "ms")

    for c in CLASSES:
        parents = tr.named(f"search.{c}")
        kids = {p["id"]: {} for p in parents}
        for s in tr.spans:
            if s["parent"] in kids:
                kids[s["parent"]][s["name"].rsplit(".", 1)[1]] = s
        plans = [k["plan"] for k in kids.values() if "plan" in k]
        execs = [k["exec"] for k in kids.values() if "exec" in k]

        terms = window["terms"][c]
        m.update({
            f"search.{c}.plan_ms": (_p50_ms(
                [s["end"] - s["start"] for s in plans]), "ms"),
            f"search.{c}.exec_ms": (_p50_ms(
                [s["end"] - s["start"] for s in execs]), "ms"),
            f"search.{c}.plan_jobs": (statistics.mean(
                s["jobs"] for s in plans), "count"),
            f"search.{c}.exec_jobs": (statistics.mean(
                s["jobs"] for s in execs), "count"),
            f"search.{c}.exec_tasks": (statistics.mean(
                s["tasks"] for s in execs), "count"),
            f"search.{c}.task_cpu_ms": (
                sum(s["cpu_ns"] for s in plans + execs) / 1e6 / len(parents),
                "ms"),
            f"search.{c}.launch_wait_ms": (sum(
                s["launch_wait_ms"] for s in plans + execs) / len(parents),
                "ms"),
            f"search.{c}.postings_in_scope": (statistics.mean(terms),
                                              "count"),
        })
    head = tr.named("search.head")
    zero = sum(1 for p in head if sum(
        s["jobs"] for s in tr.spans if s["parent"] == p["id"]) == 0)
    m["search.head.zero_job_frac"] = (zero / max(1, len(head)), "ratio")
    m["search.delete_docs_ms"] = (statistics.median(
        run.samples["delete_docs_ms"]), "ms")
    m["search.stale_reader_failed"] = (
        run.layer.get("search.stale_reader_failed", 0), "count")
    m["deletes.tombstones"] = (run.layer.get("deletes.tombstones", 0),
                               "count")
    m["incremental.spark_jobs"] = (sum(
        s["jobs"] for s in tr.spans
        if s["name"] in ("incremental.append", "incremental.upsert")), "count")
    for k, unit in (("incremental.append_s", "s"),
                    ("incremental.upsert_s", "s"),
                    ("incremental.append_visible_s", "s"),
                    ("incremental.upsert_visible_s", "s"),
                    ("incremental.write_amp", "ratio"),
                    ("merge.select_ms", "ms"),
                    ("merge.compact_s", "s"),
                    ("merge.bytes_written", "bytes"),
                    ("merge.segments_live", "count")):
        m[k] = (run.layer[k], unit)
    m["host.steal_frac"] = (host["steal_frac"], "ratio")
    m["host.cpu_probe_ms"] = (host["cpu_probe_ms"], "ms")
    ov = window["overhead"]
    pooled = [x for v in ov.values() for x in v]
    m["trace.overhead_ms"] = (_p50_ms(pooled), "ms")
    for c in CLASSES:
        m[f"trace.overhead.{c}_ms"] = (_p50_ms(ov[c]), "ms")
    return m


def measure(args, work: str) -> tuple[dict, dict]:
    """Run the workload; returns (result line, report)."""
    from enginebench import workload as W
    from enginebench.tracing import HostSampler, Tracer, read_event_log
    from parser_indexer_spark.session import get_spark

    host = HostSampler()
    cpus = len(os.sched_getaffinity(0))
    confs = isolate(work, cpus, bool(args.trace))
    t_setup = time.perf_counter()
    spark = get_spark(app=f"enginebench-{args.workload}",
                      master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus), extra=confs)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(spark, bool(args.trace))
        run, info = W.setup(spark, tracer, args.workload, args.seed, work,
                            cpus)
        ix = W.open_index(run)
        W.warm_up(run, ix, info["pool"])
        info["setup_s"] = time.perf_counter() - t_setup
        info["session_s"] = session_s
        idx_bytes = W.index_bytes(run.root)

        window = W.query_window(run, ix, info["pool"], args.seconds)
        deletes = W.delete_probes(run, info["oracle"], info["pool"])
        if args.trace:
            window["terms"] = {
                c: [sum(ix.term_stats(list(q.terms)).values())
                    for q in info["pool"][c]] for c in info["pool"]}
            W.layer_probes(run, info["pool"])
            W.write_round(run, info["pool"])
    finally:
        stop_spark(spark)
    host = host.finish()

    samples = {c: len(v) for c, v in run.lat.items()}
    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "samples": samples,
              "latency_ms": {c: [round(x * 1e3, 1) for x in v]
                             for c, v in run.lat.items()},
              "queries": window["queries"], "window_s": window["wall_s"],
              "delete_probes": len(deletes), "wrong_answers": run.wrong,
              "host": host}
    if args.trace:
        tracer.attach(read_event_log(os.path.join(work, "events")))
        metrics = per_layer(run, info, window, idx_bytes, host)
        report["span_self_s"] = tracer.self_times()
        report["untraced_p50_ms"] = {
            c: _p50_ms(v) for c, v in window["untraced"].items() if v}
        spans_dir = os.path.join(WORK_ROOT, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(
            spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = end_to_end(run, info, window, deletes, idx_bytes)
    result = {
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Only the result line may reach standard output: keep a private
    # handle on it and send file descriptor 1 (inherited by the JVM and
    # Spark's workers) to standard error.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    # the engine and this package import from the repository root; the
    # script's own directory must not shadow standard modules
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != HERE]
    try:
        import parser_indexer_spark.search  # noqa: F401
        from enginebench.workload import WORKLOADS
    except ImportError as e:
        print(f"enginebench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"enginebench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, report = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("enginebench-report " + json.dumps(report), file=sys.stderr)
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
