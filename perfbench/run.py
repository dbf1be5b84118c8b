#!/usr/bin/env python3
"""Search-engine benchmark: build + serve, and build + churn, on a seeded corpus.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Workloads (one closed-loop client, one process, Spark at local[min(4, nproc)]):

- ``serve``: build the index from the seeded corpus, ``warm()`` it, then
  replay the seeded query stream (perfbench/querygen.py). Each query runs
  as ``driver`` and ``exact`` (exact count, snippets) and as ``wand``
  (``count_mode="none"``); site-filtered queries run as ``exact`` only.
- ``churn``: build the index, then alternate ``upsert_docs`` (a seeded mix
  of re-texted and fresh urls) and ``remove_page``. After each commit come
  CHURN_DRIVER_READS driver queries; the first is the fresh read of the
  new snapshot.

Every response is checked, untimed, against ``oracle.search`` over the
same pages (perfbench/gate.py). A wrong answer counts as failed and makes
the command exit with status 1 after printing its result.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
public layer functions, writes a Spark event log and reports the per-layer
metrics (perfbench/README.md lists them and the end-to-end metric each
one should move). The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

N_DOCS = 1000            # corpus size: pages of gen_page(i, N_DOCS, seed)
WARMUP_QUERY = "леопард обитает"  # a golden text every corpus holds
BUCKETS = 8              # term_buckets = doc_id_buckets (must be >= cores)
CPUS = min(4, os.cpu_count() or 1)
UPSERT_RETEXT = 10       # existing urls re-texted per upsert batch
UPSERT_FRESH = 10        # new urls per upsert batch
CHURN_DRIVER_READS = 24  # driver queries after each commit (the first is "fresh")
SERVE_DRIVER_EXTRA = 40  # driver-only stream queries after each triple (see serve_window)
# layers a search call runs one after another, never nested
CALL_LAYERS = ("serve.", "query.analyze", "snippet.build")
STAGES = ("docs", "postings", "terms", "stats", "site_stats", "blocks")
TABLES = ("docs", "postings", "terms", "site_stats", "blocks")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gate  # noqa: E402
import querygen  # noqa: E402
import telemetry as tm  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "churn"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --- session -----------------------------------------------------------------


def start_spark(trace: bool):
    """A local session whose every file lives under WORK."""
    from pyspark.sql import SparkSession

    from searchengine_spark.config import recommended_spark_conf

    tmp = os.path.join(WORK, "tmp")
    b = (SparkSession.builder.master(f"local[{CPUS}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(CPUS))
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(WORK, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         # -XX:-UsePerfData: no hsperfdata file under the system /tmp
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    for k, v in recommended_spark_conf().items():
        b = b.config(k, v)
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(WORK, "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def prepare_dirs() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    import tempfile
    tempfile.tempdir = tmp


# --- inputs --------------------------------------------------------------------


def write_pages(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows), path)


def pages_frame(spark, rows: list[dict]):
    from searchengine_spark.sources.corpus import PAGES_SCHEMA_COLS, pages_schema

    return spark.createDataFrame(
        [tuple(r[c] for c in PAGES_SCHEMA_COLS) for r in rows], pages_schema())


# --- tracing of layers -----------------------------------------------------------


class Run:
    """State of one benchmark run: samples, responses to check, counters."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.tracer = tm.LayerTracer(self.trace)
        self.lat: dict[str, list[float]] = {"driver": [], "exact": [], "wand": []}
        self.calls: list[dict] = []      # one per timed search call
        self.commits: list[dict] = []    # one per timed upsert/remove
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tableio_bytes = 0
        self.spark = None
        self.call_id = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def tag(self, kind: str) -> None:
        """Number the next timed call; traced runs also make it the Spark
        job group ``<kind>.<id>``."""
        self.call_id += 1
        self.tracer.request = self.call_id
        if self.trace:
            group = f"{kind}.{self.call_id}"
            self.spark.sparkContext.setJobGroup(group, group)

    def untag(self) -> None:
        """Spans recorded between timed calls belong to no call."""
        self.tracer.request = 0
        if self.trace:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def install_wrappers(self) -> None:
        if not self.trace:
            return
        from searchengine_spark.plans import query, serve
        from searchengine_spark.sources.tableio import TableIO
        from searchengine_spark.streaming import incremental

        t = self.tracer
        t.wrap(serve, "lookup_terms", "serve.lookup_terms")
        t.wrap(serve, "driver_topk", "serve.driver_topk")
        t.wrap(serve, "driver_count_candidates", "serve.count_candidates")
        t.wrap(serve, "fetch_docs", "serve.fetch_docs")
        t.wrap(query.QueryEngine, "analyze", "query.analyze")
        t.wrap(query, "build_snippet", "snippet.build")
        t.wrap(incremental, "apply_staged_delta", "incremental.apply")
        t.wrap(TableIO, "_vacuum_locked", "tableio.vacuum")
        for attr in ("write_stage", "overwrite_partitions", "replace_table"):
            self._wrap_commit(TableIO, attr)
            t.wrap(TableIO, attr, "tableio.commit")

    def _wrap_commit(self, cls, attr: str) -> None:
        """Count the bytes of files a commit adds to its stage manifest."""
        fn = getattr(cls, attr)
        run = self

        def counted(io, df, stage, *args, **kwargs):
            before = {f["path"] for f in
                      (io.read_manifest(stage) or {}).get("files", [])}
            result = fn(io, df, stage, *args, **kwargs)
            run.tableio_bytes += sum(f["bytes"] for f in result.files
                                     if f["path"] not in before)
            return result

        self.tracer.patch(cls, attr, counted)


def timed_search(run: Run, eng, q: dict, strategy: str, count_mode: str,
                 state: int) -> None:
    run.attempted += 1
    run.tag(f"query.{strategy}")
    t0 = time.monotonic()
    try:
        resp = eng.search(q["query"], limit=q["k"], offset=q["offset"],
                          site=q["site"], strategy=strategy,
                          count_mode=count_mode)
    except Exception as exc:  # an engine failure is a measured outcome
        run.fail(f"{strategy} {q['query']!r}: {type(exc).__name__}: {exc}")
        return
    finally:
        t1 = time.monotonic()
        run.untag()
    ms = (t1 - t0) * 1000.0
    run.lat[strategy].append(ms)
    run.calls.append({"q": q, "strategy": strategy, "count_mode": count_mode,
                      "resp": resp, "ms": ms, "id": run.call_id,
                      "state": state})


# --- workloads -------------------------------------------------------------------


def setup(run: Run, rows: list[dict], warm: bool) -> dict:
    """Session start, index build, (serve) warm and one driver query: the
    set-up a user pays before the first answer. Returns build facts."""
    from searchengine_spark.config import EngineConfig
    from searchengine_spark.plans.api import SearchEngine

    pages_path = os.path.join(WORK, "pages.parquet")
    write_pages(pages_path, rows)
    t_session = time.monotonic()
    run.spark = start_spark(run.trace)
    run.install_wrappers()
    eng = SearchEngine(run.spark, os.path.join(WORK, "index"),
                       EngineConfig(term_buckets=BUCKETS,
                                    doc_id_buckets=BUCKETS))
    pages = run.spark.read.parquet(pages_path)
    run.attempted += 1
    run.tag("build")
    wall0 = time.time()
    t0 = time.monotonic()
    report = eng.build_index(pages)
    build_s = time.monotonic() - t0
    wall1 = time.time()
    run.untag()
    if warm:
        eng.warm()
    # the first driver query opens the pyarrow datasets: pay it in set-up
    eng.search(WARMUP_QUERY, strategy="driver")
    setup_s = time.monotonic() - t_session
    build_bytes = {t: (eng.io.read_manifest(t) or {}).get("bytes", 0)
                   for t in TABLES}
    return {"eng": eng, "report": report, "build_s": build_s,
            "t_session": t_session, "build_id": run.call_id,
            "setup_s": setup_s, "build_epoch": (wall0 * 1000, wall1 * 1000),
            "build_bytes": build_bytes, "pages_path": pages_path}


def space_after_window(eng, pages_path: str, live: list[dict] | None) -> dict:
    """Bytes on disk of all index tables when the window ends (superseded
    or staged files included), and the bytes of the pages live then as
    Parquet (``live`` None: the pages as built)."""
    if live is not None:
        pages_path = os.path.join(WORK, "pages-live.parquet")
        write_pages(pages_path, live)
    return {"index_bytes": sum(tm.dir_bytes(eng.io.path(t)) for t in TABLES),
            "input_bytes": os.path.getsize(pages_path)}


def serve_window(run: Run, eng, pool: list[dict], seconds: float) -> tuple[float, float]:
    """Each stream query runs as driver, exact and WAND (site filter: exact
    only). After each, SERVE_DRIVER_EXTRA more stream queries run as driver
    only. They are there for sampling, not as a traffic mix: exact and WAND
    take about 1.4 s each on a 4-core host, so an 8-12 s window holds only
    2-4 triples, and the median of 3-4 driver samples moved from 20 to
    100 ms between seeds."""
    stream = querygen.stream(pool, run.args.seed)
    drivers = querygen.stream([q for q in pool if q["site"] is None],
                              run.args.seed + 1)
    t0 = time.monotonic()
    while time.monotonic() - t0 < seconds:
        q = next(stream)
        plan = ([("exact", "exact")] if q["site"] else
                [("driver", "exact"), ("exact", "exact"), ("wand", "none")])
        for strategy, count_mode in plan:
            timed_search(run, eng, q, strategy, count_mode, state=0)
        for _ in range(SERVE_DRIVER_EXTRA):
            timed_search(run, eng, next(drivers), "driver", "exact", state=0)
    return t0, time.monotonic()


def churn_window(run: Run, eng, rows: list[dict], pool: list[dict],
                 seconds: float) -> tuple[float, float, list[list[dict]]]:
    """Whole maintenance cycles (upsert, reads, remove, reads) until
    ``seconds`` of engine time have passed; returns the page set after each
    commit (state 0 = as built)."""
    from searchengine_spark.sources.corpus import gen_page

    seed = run.args.seed
    rng = random.Random(f"churn:{seed}")
    stream = querygen.stream([q for q in pool if q["site"] is None], seed)
    pages = {r["url"]: r for r in rows}
    states = [list(pages.values())]
    next_fresh = N_DOCS
    untimed = 0.0
    t0 = time.monotonic()
    while time.monotonic() - t0 - untimed < seconds:
        ids = sorted(int(u.rsplit("-", 1)[1]) for u in pages)
        batch = [gen_page(i, N_DOCS, seed=seed * 7919 + len(states))
                 for i in rng.sample(ids, UPSERT_RETEXT)]
        batch += [gen_page(i, N_DOCS, seed=seed)
                  for i in range(next_fresh, next_fresh + UPSERT_FRESH)]
        next_fresh += UPSERT_FRESH
        frame = pages_frame(run.spark, batch)
        if not commit(run, "upsert", lambda: eng.upsert_docs(frame),
                      sum(len(p["html"]) for p in batch)):
            break
        pages.update({p["url"]: p for p in batch})
        states.append(list(pages.values()))
        untimed += reads_after_commit(run, eng, stream, len(states) - 1,
                                      len(pages))

        victim = rng.choice(sorted(pages))
        if not commit(run, "remove", lambda: eng.remove_page(victim), 0):
            break
        del pages[victim]
        states.append(list(pages.values()))
        untimed += reads_after_commit(run, eng, stream, len(states) - 1,
                                      len(pages))
    return t0, time.monotonic(), states


def commit(run: Run, kind: str, call, in_bytes: int) -> bool:
    run.attempted += 1
    run.tag(f"incremental.{kind}")
    w0 = tm.tree_write_bytes(os.getpid())
    c0 = time.monotonic()
    try:
        call()
    except Exception as exc:  # an engine failure is a measured outcome
        run.fail(f"{kind}: {type(exc).__name__}: {exc}")
        return False
    finally:
        c1 = time.monotonic()
        run.untag()
    run.commits.append({"kind": kind, "s": c1 - c0, "id": run.call_id,
                        "in_bytes": in_bytes,
                        "written": tm.tree_write_bytes(os.getpid()) - w0})
    return True


def reads_after_commit(run: Run, eng, stream, state: int, n_pages: int) -> float:
    """Driver queries after a commit (the first is the "fresh" read of the
    new snapshot), then an untimed page-count check; returns the seconds
    the check took."""
    for i in range(CHURN_DRIVER_READS):
        timed_search(run, eng, next(stream), "driver", "exact", state)
        if i == 0 and run.calls and run.calls[-1]["state"] == state:
            run.calls[-1]["fresh"] = True
    u0 = time.monotonic()
    got = eng.statistics()["statistics"]["total"]["pages"]
    if got != n_pages:
        run.fail(f"after commit {state}: {got} pages indexed, {n_pages} expected")
    return time.monotonic() - u0


# --- checks ------------------------------------------------------------------------


def check_serve(run: Run, idx) -> None:
    from searchengine_spark import oracle

    expected: dict[tuple, dict] = {}
    for c in run.calls:
        q = c["q"]
        key = (q["query"], q["site"], q["k"], q["offset"])
        if key not in expected:
            expected[key] = oracle.search(idx, q["query"], limit=q["k"],
                                          offset=q["offset"], site=q["site"])
        mode = "topk" if c["count_mode"] == "none" else "full"
        diff = gate.mismatch(expected[key], c["resp"], mode)
        if diff:
            run.fail(f"{c['strategy']} {q['query']!r}: {diff}")


def check_churn(run: Run, states: list[list[dict]]) -> None:
    from searchengine_spark import oracle

    by_state: dict[int, list[dict]] = {}
    for c in run.calls:
        by_state.setdefault(c["state"], []).append(c)
    for state, calls in sorted(by_state.items()):
        idx = oracle.build_index(states[state], BUCKETS)
        for c in calls:
            q = c["q"]
            diff = gate.mismatch_by_url(idx, q["query"], q["site"], q["k"],
                                        q["offset"], c["resp"],
                                        with_count=c["count_mode"] != "none")
            if diff:
                run.fail(f"{c['strategy']} after commit {state} "
                         f"{q['query']!r}: {diff}")


# --- metrics -----------------------------------------------------------------------


def end_to_end(run: Run, facts: dict, peak_mem: int) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (facts["setup_s"], "s"),
        "index_bytes_per_input_byte": (
            facts["index_bytes"] / facts["input_bytes"], "ratio"),
        "peak_pss_mb": (peak_mem / 2 ** 20, "MB"),
    }


def informational(run: Run, facts: dict) -> dict[str, tuple[float, str]]:
    """Metrics printed on every run but not gated: build throughput, the
    search latency medians, tails with their sample counts, and the
    churn-only write metrics."""
    out: dict[str, tuple[float, str]] = {
        "build_docs_per_s": (N_DOCS / facts["build_s"], "docs/s")}
    for s in ("driver", "exact", "wand"):
        out[f"{s}_p50_ms"] = (tm.median(run.lat[s]), "ms")
    for s, xs in run.lat.items():
        pct, val = tm.tail(xs)
        out[f"{s}_tail_ms"] = (val, f"ms@p{pct:g}")
        out[f"{s}_samples"] = (len(xs), "count")
    for kind in ("upsert", "remove"):
        xs = [c["s"] for c in run.commits if c["kind"] == kind]
        out[f"{kind}_p50_s"] = (tm.median(xs), "s")
    fresh = [c["ms"] for c in run.calls if c.get("fresh")]
    out["fresh_query_p50_ms"] = (tm.median(fresh), "ms")
    ups = [c for c in run.commits if c["kind"] == "upsert"]
    out["write_amp"] = (sum(c["written"] for c in ups)
                        / max(1, sum(c["in_bytes"] for c in ups)), "ratio")
    out["failed_share"] = (run.failed / max(1, run.attempted), "ratio")
    return out


def per_layer(run: Run, facts: dict, window: tuple[float, float],
              e2e: dict, host: dict) -> dict[str, tuple[float, str]]:
    import eventlog

    t = run.tracer
    logdir = os.path.join(WORK, "eventlog")
    (log,) = os.listdir(logdir)  # one session, one uncompressed log
    groups = eventlog.parse_file(os.path.join(logdir, log))
    m: dict[str, tuple[float, str]] = {}
    info = informational(run, facts)

    # plans.build: stage manifests + build job group
    report = facts["report"]
    m["build.wall_ms"] = (facts["build_s"] * 1000.0, "ms")
    m["build.docs_per_s"] = info["build_docs_per_s"]
    for s in STAGES:
        m[f"build.{s}.wall_ms"] = (float(report.get(s, {}).get("wall_ms", 0)), "ms")
    for tb in TABLES:
        m[f"build.{tb}.bytes"] = (facts["build_bytes"][tb], "bytes")
    b = groups.get(f"build.{facts['build_id']}", eventlog.GroupStats())
    m["build.spark.jobs"] = (b.jobs, "count")
    m["build.spark.tasks"] = (b.tasks, "count")
    m["build.spark.executor_run_ms"] = (b.executor_run_ms, "ms")
    m["build.spark.executor_cpu_ms"] = (b.executor_cpu_ms, "ms")
    m["build.spark.gc_ms"] = (b.gc_ms, "ms")
    m["build.spark.shuffle_write_bytes"] = (b.shuffle_write_bytes, "bytes")
    m["build.spark.spill_bytes"] = (b.spill_bytes, "bytes")
    e0, e1 = facts["build_epoch"]
    busy = tm.union_ms([(max(a, e0) / 1000.0, min(z, e1) / 1000.0)
                        for a, z in b.job_intervals if z > e0 and a < e1])
    m["build.spark.idle_ms"] = (max(0.0, (e1 - e0) - busy), "ms")
    # functions.udfs: the JVM <-> Python crossing inside the build
    m["build.py.sent_bytes"] = (b.py_sent_bytes, "bytes")
    m["build.py.returned_bytes"] = (b.py_returned_bytes, "bytes")
    m["build.py.run_ms"] = (b.py_run_ms, "ms")

    # plans.serve
    m["serve.calls"] = (len(t.durations_ms("serve.driver_topk")), "count")
    for layer in ("lookup_terms", "driver_topk", "count_candidates", "fetch_docs"):
        xs = t.durations_ms(f"serve.{layer}")
        m[f"serve.{layer}_p50_ms"] = (tm.median(xs), "ms")
        m[f"serve.{layer}_tail_ms"] = (tm.tail(xs)[1], "ms")

    # plans.query / plans.wand: per call, wall minus the time covered by
    # its Spark jobs, query analysis and snippets
    def span_ms(layer: str, call_id: int) -> float:
        return sum((z - a) * 1000.0 for n, a, z, r in t.spans
                   if n == layer and r == call_id)

    epoch_off = time.time() - time.monotonic()

    def covered_ms(g, call_id: int) -> float:
        spans = [(a, z) for n, a, z, r in t.spans if r == call_id
                 and n in ("query.analyze", "snippet.build")]
        jobs = [(a / 1000.0 - epoch_off, z / 1000.0 - epoch_off)
                for a, z in g.job_intervals]
        return tm.union_ms(spans + jobs)

    m["query.analyze_p50_ms"] = (tm.median(t.durations_ms("query.analyze")), "ms")
    for strategy in ("exact", "wand"):
        jobs, job_ms, run_ms, sent, over = [], [], [], [], []
        for c in run.calls:
            if c["strategy"] != strategy:
                continue
            g = groups.get(f"query.{strategy}.{c['id']}", eventlog.GroupStats())
            jms = tm.union_ms([(a / 1000.0, z / 1000.0) for a, z in g.job_intervals])
            jobs.append(g.jobs)
            job_ms.append(jms)
            run_ms.append(g.executor_run_ms)
            sent.append(g.py_sent_bytes)
            over.append(c["ms"] - covered_ms(g, c["id"]))
        p = f"query.{strategy}"
        m[f"{p}.queries"] = (len(jobs), "count")
        m[f"{p}.spark_jobs"] = (tm.median(jobs), "count")
        m[f"{p}.job_ms"] = (tm.median(job_ms), "ms")
        if strategy == "exact":
            m[f"{p}.executor_run_ms"] = (tm.median(run_ms), "ms")
        else:
            m[f"{p}.py_sent_bytes"] = (tm.median(sent), "bytes")
        m[f"{p}.overhead_ms"] = (tm.median(over), "ms")

    # oracle.build_snippet (as called by the engine)
    xs = t.durations_ms("snippet.build")
    m["snippet.calls"] = (len(xs), "count")
    m["snippet.build_p50_ms"] = (tm.median(xs), "ms")
    m["snippet.build_tail_ms"] = (tm.tail(xs)[1], "ms")

    # streaming.incremental
    ups = [c for c in run.commits if c["kind"] == "upsert"]
    rms = [c for c in run.commits if c["kind"] == "remove"]
    stage, apply_ms, jobs, shuffle = [], [], 0, 0
    for c in run.commits:
        a = span_ms("incremental.apply", c["id"])
        apply_ms.append(a)
        stage.append(c["s"] * 1000.0 - a)
        g = groups.get(f"incremental.{c['kind']}.{c['id']}",
                       eventlog.GroupStats())
        jobs += g.jobs
        shuffle += g.shuffle_write_bytes
    m["incremental.upserts"] = (len(ups), "count")
    m["incremental.upsert_s"] = info["upsert_p50_s"]
    m["incremental.removes"] = (len(rms), "count")
    m["incremental.remove_s"] = info["remove_p50_s"]
    m["incremental.stage_ms"] = (tm.median(stage), "ms")
    m["incremental.apply_ms"] = (tm.median(apply_ms), "ms")
    m["incremental.spark_jobs"] = (jobs, "count")
    m["incremental.shuffle_write_bytes"] = (shuffle, "bytes")
    m["incremental.write_amp"] = info["write_amp"]
    m["incremental.fresh_query_ms"] = info["fresh_query_p50_ms"]

    # sources.tableio
    m["tableio.commits"] = (len(t.durations_ms("tableio.commit")), "count")
    m["tableio.commit_ms"] = (t.busy_ms("tableio.commit"), "ms")
    m["tableio.bytes_written"] = (run.tableio_bytes, "bytes")
    m["tableio.vacuum_ms"] = (t.busy_ms("tableio.vacuum"), "ms")

    # host context over the whole run
    m["host.steal_pct"] = (host["steal_pct"], "%")
    m["host.busy_pct"] = (host["busy_pct"], "%")

    # tails, their sample counts, and the traced end-to-end values; the
    # latter minus the untraced run's values is the tracing overhead
    for s in ("driver", "exact", "wand"):
        m[f"e2e.{s}_p50_ms"] = info[f"{s}_p50_ms"]
    for s in ("driver", "exact", "wand"):
        m[f"e2e.{s}_tail_ms"] = (info[f"{s}_tail_ms"][0], "ms")
        m[f"e2e.{s}_samples"] = info[f"{s}_samples"]
    for name, (val, unit) in e2e.items():
        m[f"traced.{name}"] = (val, unit)

    # time budgets (telemetry.py): each must stay at or below 1
    wall = (window[1] - facts["t_session"]) * 1000.0
    m["trace.layer_sum_share"] = (tm.layer_sum_share(t.spans, wall), "ratio")
    m["trace.call_sum_share"] = (tm.call_sum_share(
        t.spans, {c["id"]: c["ms"] for c in run.calls}, CALL_LAYERS), "ratio")
    m["trace.slot_share"] = (max(
        (tm.slot_share(max(g.executor_run_ms, g.py_run_ms), g.job_intervals,
                       CPUS) for g in groups.values()), default=0.0), "ratio")
    return m


# --- main ----------------------------------------------------------------------------


def run_workload(args) -> tuple[Run, dict]:
    from searchengine_spark import oracle
    from searchengine_spark.sources.corpus import gen_pages_local, head_terms

    run = Run(args)
    rows = gen_pages_local(N_DOCS, seed=args.seed)
    cpu0 = tm.cpu_jiffies()
    with tm.MemorySampler() as mem:
        try:
            facts = setup(run, rows, warm=args.workload == "serve")
            idx = oracle.build_index(rows, BUCKETS)  # untimed: after setup_s
            pool = querygen.query_pool(idx, head_terms(), args.seed)
            if args.workload == "serve":
                w0, w1 = serve_window(run, facts["eng"], pool, args.seconds)
                states = None
            else:
                w0, w1, states = churn_window(run, facts["eng"], rows, pool,
                                              args.seconds)
            facts.update(space_after_window(
                facts["eng"], facts["pages_path"],
                states[-1] if states else None))
        finally:
            if run.spark is not None:
                run.tracer.restore()
                stop_spark(run.spark)
        peak = mem.peak
    host = tm.host_shares(cpu0, tm.cpu_jiffies())
    if states is None:
        check_serve(run, idx)
    else:
        check_churn(run, states)
    e2e = end_to_end(run, facts, peak)
    metrics = e2e
    if run.trace:
        metrics = per_layer(run, facts, (w0, w1), e2e, host)
        spans = os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.json")
        with open(spans, "w") as f:
            json.dump(run.tracer.dump(w0), f)
    info = informational(run, facts)
    info["host_steal_pct"] = (host["steal_pct"], "%")
    info["host_busy_pct"] = (host["busy_pct"], "%")
    return run, {"metrics": metrics, "e2e": e2e, "info": info}


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_dirs()
    try:
        run, res = run_workload(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    for name, (val, unit) in {**res["e2e"], **res["info"]}.items():
        print(f"{args.workload:6s} {name:28s} {val:14.4f} {unit}")
    for err in run.errors:
        print(f"FAILED {err}")
    over = {k: v for k, (v, _) in res["metrics"].items()
            if k.startswith("trace.") and v > 1.0 + 1e-9}
    if over:
        print(f"traced time exceeds its budget: {over}", file=sys.stderr)
        return 2
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
