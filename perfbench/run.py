"""Deployment benchmark for the one-directory code-search engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The engine is driven only through its
public calls (``build_engine``, ``load_engine``, ``append_docs``,
``CodeSearchEngine.search``); inputs come from ``--seed`` (inputs.py);
every page is checked against an unindexed reference (reference.py).
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (spans.py). Spark scratch,
deployments and the full result (host context and, when traced, every
span) go under ``.perfbench/`` in the checkout. README.md in this
directory describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"

# Sizes are fixed so every run of a workload does the same work; they are
# small because a run (set-up included) must stay near a minute on 4 cores.
BASE_BYTES = 1_200_000  # about 600 files
BATCH_BYTES = 100_000  # about 50 files
LOADS = 5  # serve's load_cpu_s is the least of this many load_engine calls, after one more
BUILD = {"term_buckets": 4, "tri_buckets": 4, "sym_buckets": 2}
TICKS_PER_S = os.sysconf("SC_CLK_TCK")
SCHEMA = "repo string, path string, commit string, lang string, content string"

# Every time reported here is CPU seconds of the whole process tree (this
# driver, the Spark JVM and its Python workers): on a shared host, wall
# times drift with CPU steal by a third within minutes; CPU time does not
# count steal. Wall times are kept in the result file.
END_TO_END = {
    "setup_s": "s",
    "index_cpu_s_per_mb": "s/MB",
    "load_cpu_s": "s",
    "store_ratio": "x",
    "search_cpu_s": "s",
    "word_cpu_s": "s",
    "regex_cpu_s": "s",
}
LAYER_SPANS = (
    "indexer.build", "trigram.build", "symbols.build", "engine.docs_copy",
    "engine.load", "engine.append", "merge.append_segment", "engine.search",
    "code_search.parse", "query.score", "query.search", "trigram.plan",
    "trigram.verify", "symbols.lookup", "snippets.fetch",
)
LAYER_UNITS = {"self_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
               "busy_s": "s", "input_bytes": "B", "shuffle_bytes": "B"}
LAYER_EXTRA = {
    "trigram.verify_yield": "ratio",
    "trigram.route_index_share": "ratio",
    "trigram.route_scan_share": "ratio",
    "trigram.route_empty_share": "ratio",
    "query.rows_per_result": "ratio",
    "query.restrict_s": "s",
    "engine.segments": "count",
    "store.index_bytes": "B",
    "store.trigram_bytes": "B",
    "store.sym_bytes": "B",
    "store.docs_bytes": "B",
    "store.appends_bytes": "B",
    "trace.overhead_share": "ratio",
    "trace.search_cpu_s": "s",
}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in output order."""
    out = {f"{s}.{k}": u for s in LAYER_SPANS for k, u in LAYER_UNITS.items()}
    out.update(LAYER_EXTRA)
    return out


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) if path.exists() else 0


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


class Run:
    """One benchmark invocation: Spark, the tracer, counters and samples."""

    def __init__(self, spark, tracer, seed: int, seconds: float, start: tuple[float, float]):
        self.spark, self.tracer, self.seed, self.seconds = spark, tracer, seed, seconds
        self.start = start  # (wall, CPU) when the process began
        self.setup_wall_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: list[tuple[str, float]] = []  # (class, CPU seconds)
        self.pages: dict = {}  # Query -> page
        self.runs_of: dict = {}  # Query -> timed runs
        self.leg = {"match_rows": 0, "page_rows": 0, "verified": 0, "bound": 0,
                    "index": 0, "scan": 0, "empty": 0}
        self.restrict: list[float] = []  # search() less its own query.score, per query
        self.e2e: dict[str, float] = {}
        self.deployment: Path | None = None  # the one the per-layer byte counts read
        self.clocks: list[tuple[str, float, float]] = []  # (call, wall s, CPU s)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    @contextlib.contextmanager
    def clock(self, what: str):
        """Wall and process-tree CPU seconds of the block, logged under ``what``."""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        rec = {}
        yield rec
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - c0
        self.clocks.append((what, rec["s"], rec["cpu_s"]))

    def end_setup(self) -> None:
        wall, cpu = self.start
        self.setup_wall_s = time.perf_counter() - wall
        self.e2e["setup_s"] = tree_cpu_s() - cpu

    def df(self, rows: list[dict]):
        return self.spark.createDataFrame(rows, SCHEMA)

    def build(self, rows: list[dict], out: Path):
        """``build_engine`` into a fresh ``out``; returns (engine, clock).
        Traced, its internal calls into each build layer get their own span."""
        from streamworks_search_engine_spark import engine as E

        df = self.df(rows)
        t = self.tracer
        self.attempted += 1
        with t.span("engine.docs_copy", op="build"), \
                t.patched(E, "build_and_write_index", "indexer.build"), \
                t.patched(E, "write_trigram_index", "trigram.build"), \
                t.patched(E, "write_symbol_table", "symbols.build"), \
                t.patched(E, "load_engine", "engine.load"):
            with self.clock("build") as c:
                eng = E.build_engine(self.spark, df, str(out), **BUILD)
        return eng, c

    def load(self, path: Path, op: str):
        from streamworks_search_engine_spark.engine import load_engine

        self.attempted += 1
        with self.tracer.span("engine.load", op=op):
            with self.clock("load") as c:
                eng = load_engine(self.spark, str(path))
        return eng, c

    def loads(self, path: Path, op: str):
        """``1 + LOADS`` calls of ``load_engine``; returns (engine, fewest
        CPU seconds of the last ``LOADS``). A load costs about a third less
        once the JVM has compiled the load path, and keeps falling for a few
        loads more; when that happens varies, so a median would jump."""
        cpu = []
        for i in range(1 + LOADS):
            eng, c = self.load(path, op=f"{op}{i}")
            cpu.append(c["cpu_s"])
        return eng, min(cpu[1:])

    def append(self, dep: Path, batch, n_rows: int, n_before: int, op: str):
        """``append_docs`` one batch, then ``load_engine``; returns (engine,
        append CPU seconds, load CPU seconds). Fails the operation unless the
        append did real work: it returned a segment dir, and the loaded
        deployment grew by exactly the batch. An append that raises ends
        the run: nothing after it could be measured."""
        from streamworks_search_engine_spark.engine import append_docs
        from streamworks_search_engine_spark.operators import merge

        self.attempted += 1
        with self.tracer.span("engine.append", op=op), \
                self.tracer.patched(merge, "append_segment", "merge.append_segment"):
            with self.clock("append") as appended:
                seg = append_docs(self.spark, str(dep), batch)
        eng, loaded = self.load(dep, op=op)
        grown = eng.index.n_docs - n_before
        if not Path(seg).is_dir() or grown != n_rows:
            self.fail(f"append {op}: segment {seg} missing or n_docs grew by {grown}")
        return eng, appended["cpu_s"], loaded["cpu_s"]

    def query(self, eng, q, op: str) -> None:
        """Run ``q`` once through ``CodeSearchEngine.search``; record its
        CPU seconds and page. Traced, each leg is then re-run on its own."""
        with self.tracer.span("client.query", op=op):
            self._query(eng, q)

    def _query(self, eng, q) -> None:
        from reference import K

        self.attempted += 1
        try:
            with self.tracer.span("engine.search"):
                with self.clock(q.cls) as c:
                    rows = eng.search(q.text, k=K, snippets=q.snippets).collect()
        except Exception:  # a failing query is counted, the run goes on
            self.fail(f"{q.cls} {q.text!r}: {traceback.format_exc(limit=3)}")
            return
        self.lat.append((q.cls, c["cpu_s"]))
        page = [tuple(r) for r in rows]
        self.runs_of[q] = self.runs_of.get(q, 0) + 1
        if self.pages.setdefault(q, page) != page:
            self.fail(f"{q.cls} {q.text!r}: page changed between runs")
        if self.tracer.enabled:
            self.legs(eng, q, rows)

    def legs(self, eng, q, rows) -> None:
        """Each leg of a composed query on its own, materialized, so its
        span holds that leg's whole cost. The engine fuses the legs into
        one plan, so these spans need not sum to the query's wall time."""
        from pyspark.sql import functions as F
        from streamworks_search_engine_spark.functions.snippets import highlight, snippet
        from streamworks_search_engine_spark.operators.code_search import (
            parse_code_query, snippet_term)
        from streamworks_search_engine_spark.operators.query import (
            bm25_topk, parse_query, search)
        from streamworks_search_engine_spark.operators.symbols import symbol_lookup
        from streamworks_search_engine_spark.operators.trigram import (
            plan_regex, regex_search, regex_search_lines)

        from reference import K

        t = self.tracer
        with t.span("code_search.parse"):
            pats, syms, rest, first = parse_code_query(q.text)
            terms, excludes, phrases, fields = parse_query(rest, frozenset(eng.meta.columns))
        positives = terms + [w for p in phrases for w in p]
        if positives:
            with t.span("query.score") as score:
                self.leg["match_rows"] += bm25_topk(eng.index, positives, k=None).count()
            self.leg["page_rows"] += len(rows)
            if phrases or excludes or fields:
                # search() scores the words again before it restricts, so
                # its wall time less query.score is the restrict alone
                with t.span("query.search") as whole:
                    search(eng.index, rest, k=K, meta=eng.meta).collect()
                self.restrict.append(whole["wall_s"] - score["wall_s"])
        # with no words, code_search ranks by the first regex atom's
        # matching lines per doc; every other atom restricts by doc
        lines_led = not positives and (first == "regex" or not syms)
        for i, p in enumerate(pats):
            with t.span("trigram.plan"):
                plan = plan_regex(eng.trigram, p)
            self.leg[plan["mode"]] += 1
            with t.span("trigram.verify"):
                if i == 0 and lines_led:
                    n = regex_search_lines(eng.trigram, eng.docs, p).groupBy("doc_id") \
                        .count().count()
                else:
                    n = regex_search(eng.trigram, eng.docs, p).count()
            if plan["mode"] == "index":
                self.leg["verified"] += n
                self.leg["bound"] += sum(min(plan["dfs"][x] for x in a) for a in plan["alts"])
        for s in syms:
            with t.span("symbols.lookup"):
                symbol_lookup(eng.symbols, s).count()
        if q.snippets:
            with t.span("snippets.fetch"):
                term = snippet_term(eng.index, q.text, meta=eng.meta)
                snip = snippet(F.col("text"), term, radius=50)
                eng.docs.filter(F.col("doc_id").isin([r["doc_id"] for r in rows])).select(
                    snip, highlight(snip, term, ci=True)).collect()

    def check_pages(self, ref, queries) -> None:
        """Each distinct query's page against the reference, once, untimed.
        A wrong page fails every timed run of that query."""
        for q in queries:
            got = self.pages.get(q)
            if got is None:
                continue
            if not pages_match(ref, q, got, ref.page(q)):
                for _ in range(self.runs_of[q]):
                    self.fail(f"{q.cls} {q.text!r}: page differs from reference")

    def search_metrics(self) -> dict[str, float]:
        """Each class's median CPU seconds per query, averaged over all
        classes, the word-led ones and the regex ones. The classes differ
        up to tenfold in cost, so a median over the whole mix would jump
        between classes from run to run."""
        regex = ("regex_sel", "regex_broad", "mixed")
        by_class: dict[str, list[float]] = {}
        for c, s in self.lat:
            by_class.setdefault(c, []).append(s)
        med = {c: statistics.median(v) for c, v in by_class.items()}
        return {
            "search_cpu_s": mean(med.values()),
            "word_cpu_s": mean(s for c, s in med.items() if c not in regex),
            "regex_cpu_s": mean(s for c, s in med.items() if c in regex),
        }

    def layer_metrics(self, run_s: float) -> dict[str, float]:
        t = self.tracer
        t.self_times()
        out = {}
        for s in LAYER_SPANS:
            med = t.layer_medians(s)
            for k in LAYER_UNITS:
                out[f"{s}.{k}"] = med[k]
        leg = self.leg
        routed = leg["index"] + leg["scan"] + leg["empty"]
        out["trigram.verify_yield"] = leg["verified"] / leg["bound"] if leg["bound"] else 0.0
        for m in ("index", "scan", "empty"):
            out[f"trigram.route_{m}_share"] = leg[m] / routed if routed else 0.0
        out["query.rows_per_result"] = (
            leg["match_rows"] / leg["page_rows"] if leg["page_rows"] else 0.0)
        out["query.restrict_s"] = p50(self.restrict)
        dep = self.deployment
        out["engine.segments"] = float(segment_count(dep))  # 0 on serve: no appends
        for name, sub in (("index", ("index",)), ("trigram", ("trigram",)), ("sym", ("sym",)),
                          ("docs", ("docs",)), ("appends", ("appends", "wordseg"))):
            out[f"store.{name}_bytes"] = float(sum(dir_bytes(dep / d) for d in sub))
        out["trace.overhead_share"] = t.own_s / run_s
        out["trace.search_cpu_s"] = self.search_metrics()["search_cpu_s"]
        return out


def pages_match(ref, q, got: list[tuple], want: list[tuple]) -> bool:
    from reference import pages_equal

    if not pages_equal([g[:3] for g in got], want):
        return False
    if q.snippets:
        return all(tuple(g[3:5]) == ref.snippet(q, g[1]) for g in got)
    return True


def segment_count(dep: Path) -> int:
    """Committed word segments plus committed batch dirs."""
    return sum(1 for pattern in ("wordseg/segments/epoch=*", "appends/batch-*")
               for d in dep.glob(pattern) if (d / "_COMMITTED").exists())


def serve(run: Run, scratch: Path) -> float:
    """Closed loop, one client: an interleaved stream of seven query
    classes against a deployment built during set-up."""
    from inputs import CLASSES, QueryMaker, class_queries, corpus, text_bytes
    from reference import Reference

    inp = corpus(run.seed, BASE_BYTES)
    ref = Reference(inp.base)
    queries = class_queries(QueryMaker(inp.base, ref, run.seed), CLASSES)
    dep = scratch / "serve"
    run.deployment = dep
    eng, built = run.build(inp.base, dep)
    base_b = text_bytes(inp.base)
    run.e2e["index_cpu_s_per_mb"] = built["cpu_s"] / (base_b / 1e6)
    run.e2e["store_ratio"] = dir_bytes(dep) / base_b
    eng, run.e2e["load_cpu_s"] = run.loads(dep, op="load")
    run.end_setup()

    # Whole rounds only, so every class has the same number of samples.
    # No warm-up: a query's first run is timed. Its second and third runs
    # still differ by up to a half while the JVM compiles the query path,
    # and a round costs 8-16 s of a run that is mostly set-up; the first
    # run is the steadiest figure a one-minute run can hold. The first
    # query also pays for compiling what all queries share, so the rounds
    # go in class order: that cost falls on the same class in every run.
    t0 = time.perf_counter()
    n = 0
    while n % len(queries) or time.perf_counter() - t0 < run.seconds:
        run.query(eng, queries[n % len(queries)], op=f"q{n}")
        n += 1
    measured = time.perf_counter() - t0
    run.check_pages(ref, queries)
    run.e2e.update(run.search_metrics())
    return measured


def ingest(run: Run, scratch: Path) -> float:
    """Closed loop, one client: one seeded doc-disjoint batch is appended
    to a fresh copy of the base deployment, which is then loaded; queries
    over the segmented deployment follow, in whole rounds, until
    ``--seconds`` has passed since the append began. As on serve, a
    query's first run is timed."""
    from inputs import INGEST_CLASSES, QueryMaker, class_queries, corpus, text_bytes
    from reference import Reference

    inp = corpus(run.seed, BASE_BYTES, BATCH_BYTES)
    batch = inp.batch
    maker = QueryMaker(inp.base, Reference(inp.base), run.seed)
    queries = class_queries(maker, INGEST_CLASSES)
    base = scratch / "base"
    run.build(inp.base, base)
    batch_df = run.df(batch)
    dep = scratch / "appended"
    shutil.copytree(base, dep)  # the append goes to a copy; nothing is rebuilt over it
    run.deployment = dep
    run.end_setup()

    t0 = time.perf_counter()
    eng, append_cpu, load_cpu = run.append(dep, batch_df, len(batch), len(inp.base), "batch")
    # CPU per MB until the batch is searchable; load_cpu_s is the least of
    # that load and two more, which fall as the JVM compiles the load path
    run.e2e["index_cpu_s_per_mb"] = (append_cpu + load_cpu) / (text_bytes(batch) / 1e6)
    reloads = [run.load(dep, op=f"reload{i}")[1]["cpu_s"] for i in range(2)]
    run.e2e["load_cpu_s"] = min(load_cpu, *reloads)
    live = inp.base + batch
    run.e2e["store_ratio"] = dir_bytes(dep) / text_bytes(live)
    n = 0
    while n < len(queries) or n % len(queries) or time.perf_counter() - t0 < run.seconds:
        run.query(eng, queries[n % len(queries)], op=f"q{n}")
        n += 1
    measured = time.perf_counter() - t0
    # the pages a from-scratch build over base plus batch must serve
    run.check_pages(Reference(live), queries)
    run.e2e.update(run.search_metrics())
    return measured


WORKLOADS = {"serve": serve, "ingest": ingest}


def start_spark(scratch: Path):
    from streamworks_search_engine_spark.session import get_spark

    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (the launcher too) keeps its temp and perf files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    settings = {
        "spark.local.dir": str(scratch / "spark-local"),
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={scratch}",
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
    }
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cores=nproc, extra_conf=settings)
    settings.update({
        "task_slots": nproc,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        **BUILD,
        "base_bytes": BASE_BYTES, "batch_bytes": BATCH_BYTES,
        "loads": LOADS,
    })
    return spark, settings


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``). Spark's Python daemon leaves the JVM's
    process group and can outlive the JVM; orphaned, it and its workers
    become children of this process, so ``end_children`` can wait for them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def processes() -> dict[int, tuple[int, int]]:
    """Every live pid's parent pid and CPU clock ticks (user and system,
    its own and its reaped children's), from /proc."""
    out = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            f = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d.name)] = (int(f[1]), sum(map(int, f[11:15])))
    return out


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me = os.getpid()
    return [pid for pid, (ppid, _) in processes().items() if ppid == me]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants:
    the Spark JVM, its Python daemons and their workers."""
    kids: dict[int, list[int]] = {}
    procs = processes()
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / TICKS_PER_S


def stop_spark(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it. A later session in this process starts a
    new gateway."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:  # the JVM may be gone already; its exit is waited for below
        pass
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_children(grace_s: float = 20.0) -> None:
    """Return once this process has no child left: reap those that exit,
    send TERM to any still running after ``grace_s``, KILL after twice."""
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = children()
        if not kids:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)


def _exit_on_term(signum, frame):
    sys.exit(128 + signum)  # unwinds through main's cleanup


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    cpu_start = tree_cpu_s()

    if not (ROOT / "streamworks_search_engine_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from spans import Tracer, host_context

    adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_term)
    scratch = WORK / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    spark = None
    try:
        spark, settings = start_spark(scratch)
        run = Run(spark, Tracer(spark, bool(args.trace)), args.seed, args.seconds,
                  (t_start, cpu_start))
        measured = WORKLOADS[args.workload](run, scratch)
        if args.trace:
            layers = run.layer_metrics(time.perf_counter() - t_start)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_metric_units().items()}
        else:
            metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in END_TO_END.items()}
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "setup_wall_s": run.setup_wall_s, "measured_s": measured,
            "result": result, "clocks": run.clocks, "errors": run.errors,
            "host": host_context(spark, settings), "spans": run.tracer.spans,
        }
    finally:
        # every process this run started has ended before a result is printed
        try:
            stop_spark(spark)
        finally:
            end_children()
            shutil.rmtree(scratch, ignore_errors=True)
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out / name).write_text(json.dumps(detail, indent=1))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
