"""Crawl benchmark: one workload, one seed, one closed loop of identical ops.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before it
holds per-op samples, host steal, probes and, with ``--trace 1``, the
per-crossing table. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return tuple({m["name"]: m["unit"] for m in b[k]} for k in ("end_to_end", "per_layer"))


MIN_OPS, MAX_OPS = 2, 8


def start_spark(work: str, trace: bool):
    from arxiv_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master="local[2]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process the
    benchmark started has ended."""
    from pyspark import SparkContext

    from host import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(bench, log, spans, names, untraced_median: float | None) -> tuple[dict, dict]:
    """Per-layer medians over the traced ops (``bloom.fp_frac`` is filled in
    by the caller), plus the crossing table and each op's wall-time check."""
    ok = [k for k, op in enumerate(bench.ops) if op.error is None]
    per_op: list[dict[str, float]] = []
    tables, residuals = [], []
    for k in ok:
        op = bench.ops[k]
        win = log.window(op.t0_ms, op.t1_ms)
        wall_ms = op.t1_ms - op.t0_ms
        union = win.job_union_ms()
        driver_ms = _uncovered_ms(win, op.t0_ms, op.t1_ms)
        residuals.append(driver_ms + union - wall_ms)
        layers = win.by_layer()
        run_s = {name: sum(st.run_ms for st in sts) / 1000.0 for name, sts in layers.items()}
        cross = win.crossings()
        tables.append(cross)
        total_s = sum(run_s.values())
        files, size = bench.written(k)
        stages = win.stages
        m = {
            "scheduler.driver_s": driver_ms / 1000.0,
            "scheduler.jobs": len(win.jobs),
            "scheduler.tasks": sum(st.tasks for st in stages),
            "scheduler.resume_s": sum(e - s for s, e in spans.of("resume", k)) / 1000.0,
            "scheduler.pages_bytes_read": sum(st.input_bytes for st in layers.get("extraction", [])),
            "frontier.select_s": run_s.get("frontier.select", 0.0),
            "frontier.write_s": run_s.get("frontier.write", 0.0),
            "frontier.rows_read": sum(st.input_rows for st in stages if "frontier" in st.scans),
            "frontier.wave_fill": op.waved / bench.config().wave_size,
            "politeness.s": run_s.get("politeness", 0.0),
            "extraction.py_s": cross["MapInArrow"]["run_s"],
            "extraction.stage_s": cross["MapInArrow"]["stage_s"],
            "extraction.rows": cross["MapInArrow"]["rows"],
            "extraction.bytes_to_py": cross["MapInArrow"]["bytes_to_py"],
            "extraction.bytes_from_py": cross["MapInArrow"]["bytes_from_py"],
            "extraction.ok_frac": op.processed / op.waved if op.waved else 0.0,
            "hashing.py_s": cross["ArrowEvalPython"]["run_s"],
            "hashing.rows": cross["ArrowEvalPython"]["rows"],
            "bloom.probe_py_s": cross["MapInPandas"]["run_s"],
            "bloom.probe_rows": cross["MapInPandas"]["rows"],
            "bloom.update_s": sum(e - s for s, e in spans.of("update_bloom_shards", k)) / 1000.0,
            "bloom.update_py_s": cross["FlatMapGroupsInPandas"]["run_s"],
            "store.commit_s": sum(e - s for s, e in spans.of("commit", k)) / 1000.0,
            "store.seen_write_s": run_s.get("store.seen_write", 0.0),
            "store.fetched_write_s": run_s.get("store.fetched_write", 0.0),
            "store.edges_write_s": run_s.get("store.edges_write", 0.0),
            "store.bytes_written": size,
            "store.files_written": files,
            "spark.executor_cpu_s": sum(st.cpu_ns for st in stages) / 1e9,
            "spark.shuffle_bytes": sum(st.shuffle_bytes for st in stages),
            "spark.spill_bytes": sum(st.spill_bytes for st in stages),
            "spark.fetch_wait_s": sum(st.fetch_wait_ms for st in stages) / 1000.0,
            "spark.failed_tasks": sum(st.failed for st in stages),
            "python.worker_start_s": sum(c["start_s"] + c["init_s"] for c in cross.values()),
            "trace.unattributed_frac": run_s.get(None, 0.0) / total_s if total_s else 0.0,
        }
        per_op.append(m)
    out = {name: median([m[name] for m in per_op]) for name in names if name in per_op[0]} if per_op else {}
    traced = median([bench.ops[k].wall_s for k in ok])
    out["trace.overhead_frac"] = traced / untraced_median - 1.0 if untraced_median and traced else 0.0
    crossing = {
        scope: {key: median([t[scope][key] for t in tables]) for key in tables[0][scope] if key != "layer"}
        for scope in (tables[0] if tables else {})
    }
    detail = {
        "crossings": crossing,
        "wall_residual_ms": residuals,
        "overhead_base_s": untraced_median,
        "per_op_layers": per_op,
    }
    return out, detail


def _uncovered_ms(win, t0: float, t1: float) -> float:
    """Span time during which no job of the op runs."""
    gaps, cursor = 0.0, t0
    for s, e in sorted((max(j.start, t0), min(j.end or t1, t1)) for j in win.jobs):
        if s > cursor:
            gaps += s - cursor
        cursor = max(cursor, e)
    return gaps + max(0.0, t1 - cursor)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sizes, for the benchmark's own tests")
    p.add_argument("--wrong-expectation", action="store_true", help="expect one URL too many (tests)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "arxiv_crawler_spark")):
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import crawl
    from host import RssSampler, Spans, probe

    table = crawl.SMOKE if args.smoke else crawl.WORKLOADS
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(table)}", file=sys.stderr)
        return 2
    wl = table[args.workload]
    end_to_end, per_layer = declared()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    untraced_file = os.path.join(base, f"untraced-{args.workload}{'-smoke' if args.smoke else ''}.json")
    trace = bool(args.trace)
    spans = Spans()
    probe_start = probe()
    undo = []
    try:
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            spark = start_spark(work, trace)
            try:
                session_s = time.perf_counter() - t0
                bench = crawl.CrawlBench(spark, wl, args.seed, work, spans, wrong=args.wrong_expectation)
                bench.setup()
                setup_s = time.perf_counter() - t0
                if trace:
                    from arxiv_crawler_spark.crawl import store

                    undo = [
                        spans.wrap(store.SnapshotStore, "commit", "commit"),
                        spans.wrap(store, "update_bloom_shards", "update_bloom_shards"),
                    ]
                bench.run(args.seconds, MIN_OPS, MAX_OPS)
                for u in undo:
                    u()
                bench.check_deltas()
                ok_ops = [k for k, op in enumerate(bench.ops) if op.error is None]
                # reads the stores through Spark, so before the session stops
                fp_frac = bench.bloom_fp_frac(ok_ops[0]) if trace and ok_ops else 0.0
            finally:
                stop_spark(spark)
        probe_end = probe()
        ok = [op for op in bench.ops if op.error is None]
        op_median = median([op.wall_s for op in ok])
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "session_s": session_s,
            "ops": [
                {"wall_s": op.wall_s, "cpu_s": op.cpu_s, "steal_s": op.steal_s, "waved": op.waved, "error": op.error}
                for op in bench.ops
            ],
            "expected": bench.expected.__dict__,
            "fail_frac": sum(op.error is not None for op in bench.ops) / max(1, len(bench.ops)),
            # reported, not bounded: neither repeats within a tenth between runs
            "cpu_s_per_op": median([op.cpu_s for op in ok]),
            "peak_rss_mb": rss.peak / 2**20,
            "probe_start": probe_start,
            "probe_end": probe_end,
        }
        if trace:
            from eventlog import EventLog

            evdir = os.path.join(work, "eventlog")
            log = EventLog(os.path.join(evdir, os.listdir(evdir)[0]))
            base_s = None
            if os.path.exists(untraced_file):
                with open(untraced_file) as f:
                    base_s = json.load(f)["op_median_s"]
            metrics_raw, more = layer_metrics(bench, log, spans, per_layer, base_s)
            metrics_raw["bloom.fp_frac"] = fp_frac
            detail.update(more)
            metrics = {k: {"value": float(metrics_raw.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
        else:
            waved = median([op.waved for op in ok])
            metrics_raw = {"urls_per_s": waved / op_median if op_median else 0.0, "setup_s": setup_s}
            metrics = {k: {"value": float(metrics_raw[k]), "unit": u} for k, u in end_to_end.items()}
            if ok:
                with open(untraced_file, "w") as f:
                    json.dump({"op_median_s": op_median, "seed": args.seed}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(op.error is not None for op in bench.ops)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0 and len(bench.ops) > 0,
                "attempted": len(bench.ops),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
