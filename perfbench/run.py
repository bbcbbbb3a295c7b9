"""Crawl benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload crawl_wide_fanout --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Spark runs at local[<cores>] inside this
process. After set-up and a warm-up crawl, the run crawls its web again
and again, each crawl starting after the previous one returned and
passed its output check, until ``--seconds`` have passed (at least one
crawl). ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds
one traced crawl and prints the per-layer metrics. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` (crawls that
raised or failed their check) and ``metrics``. ``--workload all`` runs
every workload in turn. NOTE.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path
from urllib.parse import urlparse

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import webgen  # noqa: E402

PREP_REPEATS = 3  # set-up steps repeated per run; setup_s takes the median
END_TO_END_UNITS = {"job_s": "s", "urls_per_s": "1/s", "setup_s": "s"}
PER_LAYER_UNITS = {
    "crawl.rounds": "count", "crawl.plan_ms": "ms",
    "crawl.seen_commit_ms": "ms", "crawl.filters_ms": "ms",
    "crawl.round_fixed_ms": "ms", "crawl.url_marginal_us": "us",
    "state.files": "count", "state.bytes": "B",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.core_busy_ratio": "ratio", "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_write_bytes": "B",
    "python.boot_ms": "ms", "python.init_ms": "ms",
    "python.data_sent_bytes": "B",
    "fetch.urls": "count", "fetch.busy_ms": "ms", "fetch.concurrency": "ratio",
    "fetch.requests_per_url": "ratio", "fetch.task_skew": "ratio",
    "parse.ms": "ms", "normalize.udf_ms": "ms",
    "admission.links": "count", "admission.blocked": "count",
    "admission.new_urls": "count", "admission.yield_ratio": "ratio",
    "seen.keys": "count", "seen.bloom_add_ms": "ms",
    "seen.bloom_add_calls": "count", "seen.bloom_pass_ratio": "ratio",
    "seen.probe_udf_ms": "ms",
    "politeness.deferred_rows": "count", "politeness.max_host_visits": "count",
    "robots.udf_ms": "ms", "robots.blocked": "count",
    "window.sort_ms": "ms",
    "mem.peak_rss_mb": "MB",
    "trace.job_s": "s", "trace.overhead_s": "s",
}


def tree_pss_mb(root_pid: int, exclude: set[int]) -> float:
    """Resident memory of ``root_pid`` and its descendants, minus
    ``exclude`` and their descendants: the sum of their proportional set
    sizes, so pages forked Python workers share count once."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    kb, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
        stack.extend(kids.get(pid, []))
    return kb / 1024


class MemSampler:
    """Samples the benchmark's process tree (driver, JVM, Python
    workers; not the HTTP server) every 100 ms; ``peak`` is the largest
    sum since the last ``reset``."""

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(0.1):
            self.peak = max(self.peak, tree_pss_mb(os.getpid(), self.exclude))

    def reset(self):
        self.peak = tree_pss_mb(os.getpid(), self.exclude)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class HttpServer:
    """The loopback server process for one polite web."""

    def __init__(self, web_name: str, seed: int, threads: int):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.httpserver", "--web", web_name,
             "--seed", str(seed), "--threads", str(threads)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"HTTP server did not start: {line!r}")
        self.port = int(line.split()[1])

    def control(self, path: str) -> dict:
        import requests

        r = requests.get(f"http://127.0.0.1:{self.port}{path}",
                         headers={"Host": "control"}, timeout=10)
        r.raise_for_status()
        return r.json()

    def close(self):
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        self.proc.stdout.close()


class CrawlWorkload:
    """One web crawled through the production fetch seam
    (``fetch_parse_with_callback``), with its oracle and checks."""

    name = ""
    web = warm_web = None
    claim = ""  # the layer predicted to do most of the work
    server = None  # the HTTP server, for workloads that fetch over HTTP

    def __init__(self, spark, seed: int, work: Path):
        self.spark, self.seed, self.work = spark, seed, work
        self.cores = spark.sparkContext.defaultParallelism
        self.empty_pages = spark.createDataFrame([], "url string")

    # inputs -------------------------------------------------------------
    def prep(self, web) -> None:
        """Generate the inputs and the oracle for ``web``."""
        self.current = web
        self.sites_df = self.spark.createDataFrame(webgen.sites_pdf(web))
        self.expected = webgen.expected_visits(web)

    def config(self, state_dir: str):
        from web_crawler_spark.engine.crawl import CrawlConfig

        return CrawlConfig(state_dir=state_dir)

    def fetcher(self):
        """The fetch callback for one crawl of the current web."""
        raise NotImplementedError

    robots_df = None

    def close(self) -> None:
        pass

    def requests_per_url(self, fetched_urls: int) -> float:
        return fetched_urls / max(1, len(self.expected))

    # one crawl -----------------------------------------------------------
    def crawl(self, fetch):
        from web_crawler_spark.engine.crawl import CrawlEngine

        state = str(self.work / "state")
        shutil.rmtree(state, ignore_errors=True)
        t0 = time.perf_counter()
        eng = CrawlEngine(
            self.spark, self.empty_pages, self.sites_df, self.robots_df,
            config=self.config(state), fetcher=fetch,
        )
        stats = eng.run()
        return eng, stats, time.perf_counter() - t0

    def check(self, eng, stats) -> tuple[list[str], object]:
        """Output problems of a finished crawl, and its visits frame."""
        visits = eng.visits().select("url_key", "round").toPandas()
        problems = []
        keys = visits["url_key"].tolist()
        if len(keys) != len(set(keys)):
            problems.append(f"{len(keys) - len(set(keys))} URLs visited twice")
        got = set(keys)
        if got != self.expected:
            problems.append(
                f"visits differ from the oracle: {len(got - self.expected)}"
                f" extra, {len(self.expected - got)} missing"
            )
        if stats.total_visits != len(keys):
            problems.append("CrawlStats.total_visits differs from fetch_log")
        visits["host"] = [urlparse(u).netloc for u in visits["url_key"]]
        return problems, visits


class WideFanout(CrawlWorkload):
    name = "crawl_wide_fanout"
    web, warm_web = webgen.WIDE, webgen.WARMUP
    claim = "per-URL work (fetch+parse, normalize, dedup, seen check)"

    def fetcher(self):
        return webgen.make_wide_fetcher(self.current, self.seed)

    def dominant_share(self, m, per_round, fetch_spans, wall_s) -> float:
        """Share of the rounds' time the per-URL slope accounts for."""
        total = sum(r["ms_round"] for r in per_round)
        urls = sum(r["visited"] for r in per_round)
        return m["crawl.url_marginal_us"] / 1000 * urls / total


class HttpPolite(CrawlWorkload):
    name = "crawl_http_polite"
    web, warm_web = webgen.POLITE, webgen.WARMUP
    claim = "fetching (some fetch callback running)"

    def dominant_share(self, m, per_round, fetch_spans, wall_s) -> float:
        """Share of the crawl's wall time with a fetch in flight."""
        from perfbench.trace import union_seconds

        return union_seconds(fetch_spans) / wall_s

    def prep(self, web) -> None:
        super().prep(web)
        self.robots_df = self.spark.createDataFrame(
            webgen.robots_pdf(web),
            "host string, user_agent string, rule_type string,"
            " path_prefix string, crawl_delay_ms int",
        )
        self.caps = webgen.host_caps(web)
        self.close()
        self.server = HttpServer(
            "polite" if web is webgen.POLITE else "warmup", self.seed, self.cores
        )

    def config(self, state_dir):
        from web_crawler_spark.engine.crawl import CrawlConfig

        return CrawlConfig(
            state_dir=state_dir, respect_robots=True,
            max_per_host_round=webgen.MAX_PER_HOST_ROUND,
        )

    def fetcher(self):
        from web_crawler_spark.operators.fetch import make_http_fetcher

        self.server.control("/reset")
        return make_http_fetcher(
            timeout_s=10.0, backoff_s=0.05,
            session_factory=functools.partial(
                webgen.LoopbackSession, self.server.port
            ),
        )

    def requests_per_url(self, fetched_urls: int) -> float:
        counts = self.server.control("/counts")
        return sum(counts.values()) / max(1, len(counts))

    def check(self, eng, stats):
        problems, visits = super().check(eng, stats)
        per_batch = visits.groupby(["round", "host"]).size()
        for (rnd, host), n in per_batch.items():
            if n > self.caps.get(host, 0):
                problems.append(
                    f"round {rnd} visited {n} URLs of {host} (cap"
                    f" {self.caps.get(host)})"
                )
        return problems, visits

    def close(self):
        if self.server is not None:
            self.server.close()
            self.server = None


WORKLOADS = {w.name: w for w in (WideFanout, HttpPolite)}


def start_spark(work: Path, event_dir: Path | None):
    from web_crawler_spark.session import get_spark

    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep the JVM's temporary and perf-data files out of /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def fit_round_cost(per_round: list[dict]) -> tuple[float, float]:
    """Least-squares (intercept ms, slope ms per URL) of ms_round
    against URLs visited per round."""
    xs = [m["visited"] for m in per_round]
    ys = [m["ms_round"] for m in per_round]
    if len(set(xs)) < 2:
        return statistics.mean(ys), 0.0
    slope, intercept = statistics.linear_regression(xs, ys)
    return intercept, slope


def crawl_layer_metrics(wl: CrawlWorkload, eng, stats, visits) -> dict:
    """engine.crawl, admission, seen and politeness figures read from
    the crawl's committed per-round records and state tables."""
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.html import outlink_spans_col
    from web_crawler_spark.functions.urls import registrable_host_col

    per = stats.per_round
    fixed, slope = fit_round_cost(per)
    files = size = 0
    for root, _dirs, names in os.walk(eng.cfg.state_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    blocked = {
        r["block_type"]: r["n"]
        for r in eng.read_all("blocked").groupBy("block_type")
        .agg(F.count("*").alias("n")).collect()
    }
    docs = eng.read_all("documents").select("visit_ord", "spans").join(
        eng.visits().select("visit_ord", "url_key"), "visit_ord"
    )
    links = docs.select(
        F.sum(F.size(outlink_spans_col(
            F.col("spans"), registrable_host_col(F.col("url_key"))
        ))).alias("n")
    ).first()["n"] or 0
    new_urls = sum(m["new_seen"] for m in per)
    return {
        "crawl.rounds": stats.rounds,
        "crawl.plan_ms": sum(m["ms_plan"] for m in per),
        "crawl.seen_commit_ms": sum(m["ms_seen_commit"] for m in per),
        "crawl.filters_ms": sum(m["ms_filters"] for m in per),
        "crawl.round_fixed_ms": fixed,
        "crawl.url_marginal_us": slope * 1000,
        "state.files": files,
        "state.bytes": size,
        "admission.links": links,
        "admission.blocked": sum(
            n for k, n in blocked.items() if k != "FETCH_IGNORED_CONTENT_TYPE"
        ),
        "admission.new_urls": new_urls,
        "admission.yield_ratio": new_urls / links if links else 0.0,
        "seen.keys": eng.seen_keys().count(),
        "politeness.deferred_rows": sum(m["deferred"] for m in per),
        "politeness.max_host_visits": int(
            visits.groupby(["round", "host"]).size().max()
        ),
        "robots.blocked": blocked.get("ROBOTS", 0),
    }


def traced_crawl(wl: CrawlWorkload, tracer) -> tuple:
    """One crawl with spans around the package's public entry points
    and the fetch callback."""
    from perfbench.trace import ListParam, timed_fetcher
    from web_crawler_spark.engine.crawl import CrawlEngine
    from web_crawler_spark.operators.merge import MergeTable
    from web_crawler_spark.operators.seen import BroadcastBloom, ShardedBloom

    acc = wl.spark.sparkContext.accumulator([], ListParam())
    fetch = timed_fetcher(wl.fetcher(), acc)
    with contextlib.ExitStack() as wraps:
        wraps.enter_context(tracer.wrap(CrawlEngine, "run", "CrawlEngine.run"))
        wraps.enter_context(tracer.wrap(BroadcastBloom, "add_keys",
                                        "BroadcastBloom.add_keys"))
        wraps.enter_context(tracer.wrap(ShardedBloom, "add_keys",
                                        "ShardedBloom.add_keys"))
        wraps.enter_context(tracer.wrap(MergeTable, "merge", "MergeTable.merge"))
        t0 = time.time()
        eng, stats, job_s = wl.crawl(fetch)
        t1 = time.time()
    for s, e, n in acc.value:
        tracer.spans.append({"name": "fetch_callback", "start": s, "end": e,
                             "parent": "CrawlEngine.run", "urls": n})
    return eng, stats, job_s, t0, t1


def layer_metrics(wl, ev: dict, crawl: dict, tracer, job_s: float,
                  untraced_job_s: float, requests_per_url: float,
                  peak_rss_mb: float) -> dict:
    from perfbench.eventlog import task_skew

    fetch_spans = [s for s in tracer.spans if s["name"] == "fetch_callback"]
    busy_ms = sum(s["end"] - s["start"] for s in fetch_spans) * 1000
    bloom_calls, bloom_s = (
        a + b for a, b in zip(tracer.total("BroadcastBloom.add_keys"),
                              tracer.total("ShardedBloom.add_keys"))
    )
    probed = ev.get("node.probe.number of output rows", 0.0)
    m = {
        **crawl,
        "spark.jobs": ev.get("spark.jobs", 0),
        "spark.tasks": ev.get("spark.tasks", 0),
        "spark.core_busy_ratio": ev.get("spark.task_ms", 0.0)
        / (job_s * 1000 * wl.cores),
        "spark.task_cpu_ms": ev.get("spark.task_cpu_ms", 0.0),
        "spark.gc_ms": ev.get("spark.gc_ms", 0.0),
        "spark.shuffle_write_bytes": ev.get("spark.shuffle_write_bytes", 0),
        "python.boot_ms": ev.get("python.boot_ms", 0.0),
        "python.init_ms": ev.get("python.init_ms", 0.0),
        "python.data_sent_bytes": ev.get("python.data_sent_bytes", 0),
        "fetch.urls": sum(s["urls"] for s in fetch_spans),
        "fetch.busy_ms": busy_ms,
        "fetch.concurrency": busy_ms / (job_s * 1000),
        "fetch.requests_per_url": requests_per_url,
        "fetch.task_skew": task_skew(ev.get("fetch_task_ms", [])),
        "parse.ms": ev.get("node.fetch.time to run Python workers", 0.0)
        - busy_ms,
        "normalize.udf_ms": ev.get("node.normalize.time to run Python workers",
                                   0.0),
        "seen.bloom_add_ms": bloom_s * 1000,
        "seen.bloom_add_calls": bloom_calls,
        "seen.bloom_pass_ratio": (
            ev.get("node.probe_pass.number of output rows", 0.0) / probed
            if probed else 0.0
        ),
        "seen.probe_udf_ms": ev.get("node.probe.time to run Python workers",
                                    0.0),
        "robots.udf_ms": ev.get("node.robots.time to run Python workers", 0.0),
        "window.sort_ms": ev.get("node.sort.sort time", 0.0),
        "mem.peak_rss_mb": peak_rss_mb,
        "trace.job_s": job_s,
        "trace.overhead_s": job_s - untraced_job_s,
    }
    if set(m) != set(PER_LAYER_UNITS):
        raise RuntimeError(f"metric names differ: {set(m) ^ set(PER_LAYER_UNITS)}")
    return m


def prediction(wl, m: dict, per_round: list[dict], tracer, t0: float,
               t1: float) -> str:
    """Whether the layer NOTE.md predicts to dominate did most of the
    traced crawl's work."""
    spans = [(s["start"], s["end"]) for s in tracer.spans
             if s["name"] == "fetch_callback"]
    share = wl.dominant_share(m, per_round, spans, t1 - t0)
    verdict = "holds" if share > 0.5 else "does NOT hold"
    return (f"prediction {wl.name}: {wl.claim} takes most of job_s — {verdict}"
            f" (share {share:.2f} of the traced crawl)")


def run_workload(args) -> dict:
    from perfbench import eventlog
    from perfbench.trace import Tracer

    t_start = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    event_dir = work / "eventlog" if args.trace else None
    spark = start_spark(work, event_dir)
    wl = WORKLOADS[args.workload](spark, args.seed, work)
    attempted = failed = 0
    try:
        wl.prep(wl.warm_web)
        eng, stats, _ = wl.crawl(wl.fetcher())
        problems, _ = wl.check(eng, stats)
        if problems:
            raise RuntimeError(f"warm-up crawl failed its check: {problems}")
        setup_once = time.perf_counter() - t_start
        preps = []
        for _ in range(PREP_REPEATS):
            t0 = time.perf_counter()
            wl.prep(wl.web)
            preps.append(time.perf_counter() - t0)
        setup_s = setup_once + statistics.median(preps)

        job_times, peaks, visits_n = [], [], len(wl.expected)
        exclude = {wl.server.proc.pid} if wl.server else set()
        with MemSampler(exclude) as mem:
            t_measure = time.perf_counter()
            while not attempted or time.perf_counter() - t_measure < args.seconds:
                fetch = wl.fetcher()
                mem.reset()
                attempted += 1
                try:
                    eng, stats, job_s = wl.crawl(fetch)
                    peaks.append(mem.peak)
                    job_times.append(job_s)
                    print(f"crawl {attempted}: {job_s:.3f} s, rounds (URLs,"
                          " ms): " + str([(r["visited"], r["ms_round"])
                                          for r in stats.per_round]),
                          flush=True)
                    problems, _ = wl.check(eng, stats)
                except Exception as e:  # a failed crawl counts, the run goes on
                    problems = [f"crawl raised {type(e).__name__}: {e}"]
                if problems:
                    failed += 1
                    print(f"check failed: {problems}", flush=True)
        if not job_times:
            raise RuntimeError("no crawl finished")
        job_s = statistics.median(job_times)
        print(f"{wl.name}: {len(job_times)} crawls, job_s "
              f"{[round(t, 3) for t in job_times]}, {visits_n} URLs each",
              flush=True)
        metrics = {
            "job_s": job_s,
            "urls_per_s": visits_n / job_s,
            "setup_s": setup_s,
        }
        units = END_TO_END_UNITS
        if args.trace:
            tracer = Tracer()
            attempted += 1
            eng, stats, tjob_s, t0, t1 = traced_crawl(wl, tracer)
            problems, visits = wl.check(eng, stats)
            if problems:
                failed += 1
                print(f"check failed: {problems}", flush=True)
            crawl = crawl_layer_metrics(wl, eng, stats, visits)
            rpu = wl.requests_per_url(
                sum(s["urls"] for s in tracer.spans
                    if s["name"] == "fetch_callback")
            )
            spark.stop()
            logs = [p for p in event_dir.iterdir() if p.is_file()]
            ev = eventlog.summarize(
                eventlog.read_events(str(logs[0])), t0 * 1000, t1 * 1000
            )
            metrics = layer_metrics(wl, ev, crawl, tracer, tjob_s, job_s, rpu,
                                    max(peaks))
            units = PER_LAYER_UNITS
            out_dir = ROOT / ".perfbench_work" / "traces"
            out_dir.mkdir(parents=True, exist_ok=True)
            tracer.write(str(out_dir / f"{wl.name}-seed{args.seed}.json"))
            print("busy ms per module (Spark's node metrics, overlapping): "
                  + ", ".join(f"{k} {v:.0f}"
                              for k, v in eventlog.module_ms(ev).items()),
                  flush=True)
            print(prediction(wl, metrics, stats.per_round, tracer, t0, t1),
                  flush=True)
            print(f"tracing overhead: traced job_s {tjob_s:.3f} - untraced "
                  f"median {job_s:.3f} = {tjob_s - job_s:+.3f} s", flush=True)
    finally:
        t_end = time.perf_counter()
        wl.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"run wall {time.perf_counter() - t_start:.1f} s, of which"
              f" {time.perf_counter() - t_end:.1f} s stopping", flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def run_all(args) -> dict:
    """Every workload in its own process; metrics named <workload>.<m>."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace",
             str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import web_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    res = run_all(args) if args.workload == "all" else run_workload(args)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
