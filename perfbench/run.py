"""Same-host pipeline benchmark for har2tree_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up starts one SparkSession on
local[<cores>], checks the input generators against ``fingerprints.json``,
generates the workload's inputs from the seed, and makes one untimed run
whose outputs are checked (it is also the warm-up). The timed part is a
closed loop with one client: one pipeline run after another for at least
``--seconds`` and at least the workload's ``min_runs``, every output table
materialised through Spark's ``noop`` sink. ``--trace 1`` adds one traced
run, layer by layer, and reports per-layer counters instead of the
end-to-end figures. The last stdout line is the JSON result; see README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

import pyarrow  # noqa: E402
import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import har2tree_spark  # noqa: E402
from har2tree_spark.operators import cascade, pages, parse, stats, tiling  # noqa: E402
from har2tree_spark.pipeline import capture_report, run_pipeline  # noqa: E402
from har2tree_spark.session import get_spark, stop_spark  # noqa: E402
from har2tree_spark.sources import events_spans, har_cookies, har_source  # noqa: E402
from perfbench import checks, inputs  # noqa: E402
from perfbench.trace import PER_LAYER, Tracer, unit  # noqa: E402

SETUP_REPEATS = 3  # input generation is repeated; setup_s uses the median

# Input sizes. A pipeline run here costs mostly per-job floors, so these are
# small: one invocation, set-up included, has to fit the benchmark's time
# budget on a 4-core host.
SIZES = {
    "small_docs": {"n_docs": 2000, "sample_every": 16},
    "mega_docs": {"n_docs": 3, "min_spans": 600, "max_spans": 900},
    "events_rank": {"n_events": 6000, "n_users": 180},
    "har_captures": {"n_captures": 32, "corrupt_every": 8},
}
# Generator probes: fixed small inputs at the reference seed whose
# fingerprints are recorded in fingerprints.json.
PROBE = {
    "small_docs": {"n_docs": 64},
    "mega_docs": {"n_docs": 1, "min_spans": 200, "max_spans": 300},
    "events_rank": {"n_events": 500, "n_users": 20},
    "har_captures": {"n_captures": 8, "corrupt_every": 4},
}


# ------------------------------------------------------------ environment
def pin_environment(work: str) -> dict:
    """Clear stray SPARK_GRAFT_* knobs and keep every file the run writes
    inside ``work``. Returns what was set and cleared, for the report."""
    cleared = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in cleared:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    pinned = {
        # executors' Python workers import the library by reference
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    return {"set": pinned, "cleared": cleared}


def descendants() -> list[int]:
    """Pids of every live process descended from this one."""
    parents = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parents[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    me, out = os.getpid(), []
    for pid in parents:
        p, hops = parents.get(pid), 0
        while p and p != me and hops < 16:
            p, hops = parents.get(p), hops + 1
        if p == me:
            out.append(pid)
    return out


def stop_all(timeout: float = 60.0) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes, taking the Python worker daemon with it), and wait until no
    process started by this one is left."""
    stop_spark()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


class PeakRss:
    """Peak resident memory of the driver JVM and its Python workers: the
    largest sum, over the processes alive at one sample, of their
    /proc/<pid>/status VmHWM. A background thread samples every
    ``interval`` seconds; a worker that exits stops counting, so replaced
    workers are not added up."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.parts = ""
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self):
        by_name: dict[str, list[int]] = {}
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    fields = dict(line.split(":", 1) for line in fh if ":" in line)
                kb = int(fields["VmHWM"].split()[0])
            except (OSError, KeyError, ValueError):
                continue
            by_name.setdefault(fields["Name"].strip(), []).append(kb)
        total = sum(sum(v) for v in by_name.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.parts = ", ".join(
                f"{name} {len(v)}x {sum(v) / 1024:.0f} MB" for name, v in sorted(by_name.items())
            )

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


# -------------------------------------------------------------- workloads
def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload: seeded inputs, the timed pipeline call, its output
    checks and its traced layer-by-layer twin."""

    name = ""
    checked: tuple[str, ...] = ()  # the outputs problems() reads
    min_runs = 2  # timed runs, at the least

    def __init__(self, spark, work: str):
        self.spark = spark
        self.size = SIZES[self.name]
        self.input_dir = os.path.join(work, "input")
        self.n_docs = 0

    def generate(self, seed: int, probe: bool = False) -> dict:
        """Generate (and, unless probing, write) the inputs; return their
        fingerprint."""
        raise NotImplementedError

    def outputs(self) -> dict:
        raise NotImplementedError

    def run(self) -> None:
        for df in self.outputs().values():
            sink(df)

    def check_run(self) -> list[str]:
        """One untimed run whose checked outputs are collected and compared;
        the other outputs go to the noop sink as in a timed run."""
        out = self.outputs()
        for k, df in out.items():
            if k not in self.checked:
                sink(df)
        return self.problems(out)

    def problems(self, out: dict) -> list[str]:
        raise NotImplementedError

    def trace(self, tracer) -> dict[str, float]:
        raise NotImplementedError

    def _write(self, write, data) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)
        write(data, self.input_dir)


class _DocsWorkload(Workload):
    """Generated documents in parquet, run through run_pipeline(exact)."""

    checked = ("features", "join_result", "tile_rollup")

    def docs(self, seed: int, size: dict) -> list[dict]:
        raise NotImplementedError

    def generate(self, seed, probe=False):
        docs = self.docs(seed, PROBE[self.name] if probe else self.size)
        if not probe:
            self._write(inputs.write_docs, docs)
            self.sample = docs[:: self.size.get("sample_every", 1)]
            self.n_docs = len(docs)
        return inputs.docs_fingerprint(docs)

    def outputs(self):
        return run_pipeline(self.spark.read.parquet(self.input_dir), mode="exact")

    def problems(self, out):
        return checks.exact_problems(out, self.sample) + checks.tile_problems(
            out["features"], out["tile_rollup"]
        )

    def trace(self, tracer):
        docs = self.spark.read.parquet(self.input_dir)
        feats = tracer.layer("parse", lambda: parse.parse_documents(docs))
        jr = tracer.layer("cascade_exact", lambda: cascade.resolve_exact(feats))
        tiles = tracer.layer("tiling", lambda: tiling.tile_assignment(feats))
        rollup = tracer.layer("tiling", lambda: tiling.tile_rollup(tiles))
        tracer.layer("stats", lambda: stats.doc_stats(feats, jr))
        return {
            **ratio_live(docs, feats),
            **ratio_fallback(jr),
            **ratio_rollup(tiles, rollup),
            "stats.doubling_passes": 0.0,  # exact depth passes through
        }


class SmallDocs(_DocsWorkload):
    name = "small_docs"

    def docs(self, seed, size):
        return inputs.small_docs(seed, size["n_docs"])


class MegaDocs(_DocsWorkload):
    name = "mega_docs"

    def docs(self, seed, size):
        return inputs.mega_docs(seed, size["n_docs"], size["min_spans"], size["max_spans"])


class EventsRank(Workload):
    name = "events_rank"
    checked = ("features", "join_result", "tiles", "tile_rollup")
    # its runs are short and still speeding up (JIT) after the warm-up: a
    # median of three is steadier than the mean of two
    min_runs = 3

    def generate(self, seed, probe=False):
        s = PROBE[self.name] if probe else self.size
        table = inputs.events_table(seed, s["n_events"], s["n_users"])
        fp = inputs.events_fingerprint(table)
        if not probe:
            self._write(inputs.write_events, table)
            self.n_docs = fp["docs"]
        return fp

    def outputs(self):
        docs = events_spans.documents_from_events(self.spark, self.input_dir)
        return run_pipeline(docs, mode="rank")

    def problems(self, out):
        events = os.path.join(self.input_dir, "events.parquet")
        return checks.rank_problems(out, events) + checks.tile_problems(
            out["features"], out["tile_rollup"]
        )

    def trace(self, tracer):
        docs = tracer.layer(
            "events_spans",
            lambda: events_spans.documents_from_events(self.spark, self.input_dir),
        )
        feats = tracer.layer("parse", lambda: parse.parse_documents(docs))
        jr = tracer.layer("cascade_rank", lambda: cascade.resolve_rank(feats))
        tiles = tracer.layer("tiling", lambda: tiling.tile_assignment(feats))
        rollup = tracer.layer("tiling", lambda: tiling.tile_rollup(tiles))
        tracer.layer("stats", lambda: stats.doc_stats(feats, jr))
        edges = cascade.candidate_edges(feats).count()
        attached = jr.filter(~F.col("join_kind").isin("root", "fallback_root")).count()
        return {
            **ratio_live(docs, feats),
            **ratio_rollup(tiles, rollup),
            "cascade_rank.edge_yield": attached / edges if edges else 0.0,
            "stats.doubling_passes": doubling_passes(jr),
        }


class HarCaptures(Workload):
    name = "har_captures"
    checked = ("report",)

    def generate(self, seed, probe=False):
        s = PROBE[self.name] if probe else self.size
        files, expect = inputs.har_captures(seed, s["n_captures"], s["corrupt_every"])
        if not probe:
            self._write(inputs.write_files, files)
            self.expect = expect
            self.n_docs = len(expect)
        return inputs.har_fingerprint(files)

    def outputs(self):
        return {"report": capture_report(self.spark, self.input_dir)}

    def problems(self, out):
        # the report has no tiles: the tile law is checked on the captures'
        # own features
        caps = har_source.read_har_captures(self.spark, self.input_dir)
        feats = parse.parse_documents(caps.select("doc_id", "spans")).localCheckpoint()
        rollup = tiling.tile_rollup(tiling.tile_assignment(feats))
        return checks.har_problems(out["report"], self.expect) + checks.tile_problems(
            feats, rollup
        )

    def trace(self, tracer):
        # the composition of pipeline.capture_report, one layer at a time
        caps = tracer.layer(
            "har_source", lambda: har_source.read_har_captures(self.spark, self.input_dir)
        )
        feats = tracer.layer(
            "parse", lambda: parse.parse_documents(caps.select("doc_id", "spans"))
        )
        jr = tracer.layer("cascade_exact", lambda: cascade.resolve_exact(feats))
        tree = tracer.layer("pages", lambda: pages.attach_pages(jr, caps))
        tracer.layer("stats", lambda: stats.doc_stats(feats, tree, depth_complete=False))
        tracer.layer("stats", lambda: stats.redirect_chains(feats, tree, depth_complete=False))
        tracer.layer(
            "har_cookies",
            lambda: har_cookies.capture_cookie_totals(har_cookies.cookies_from_captures(caps)),
        )
        n_caps = caps.count()
        n_quarantined = feats.filter(F.col("n_live") == 0).select("doc_id").distinct().count()
        return {
            **ratio_live(caps, feats),
            **ratio_fallback(jr),
            "har_source.quarantine_share": n_quarantined / n_caps if n_caps else 0.0,
            "stats.doubling_passes": doubling_passes(tree),
        }


WORKLOADS = {w.name: w for w in (SmallDocs, MegaDocs, EventsRank, HarCaptures)}


# ------------------------------------------------------- traced ratios ---
def ratio_live(docs, feats) -> dict[str, float]:
    n_in = docs.select(
        F.sum(F.when(F.col("spans").isNotNull(), F.size("spans")).otherwise(0))
    ).first()[0]
    n_live = cascade.live_features(feats).count()
    return {"parse.live_ratio": n_live / n_in if n_in else 0.0}


def ratio_fallback(jr) -> dict[str, float]:
    n, fb = jr.filter(F.col("parent_idx") != -1).agg(
        F.count("*"), F.sum(F.col("join_kind").startswith("fallback_").cast("long"))
    ).first()
    return {"cascade_exact.fallback_share": (fb or 0) / n if n else 0.0}


def ratio_rollup(tiles, rollup) -> dict[str, float]:
    n = tiles.count()
    return {"tiling.rollup_ratio": rollup.count() / n if n else 0.0}


def doubling_passes(jr) -> float:
    """Pointer-doubling passes stats.compute_depths runs on ``jr``: the bit
    length of the largest per-document row count (its own bound)."""
    top = jr.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    return float(max(1, int(top or 1).bit_length()))


# ------------------------------------------------------------------ main ---
def tail(samples: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return f"no percentile has 10 samples beyond it (n={n})"
    return f"p{100 * (n - 10) / n:.0f}={sorted(samples)[n - 11]:.4f} s (n={n})"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if os.path.dirname(os.path.dirname(os.path.abspath(har2tree_spark.__file__))) != ROOT:
        raise SystemExit(f"har2tree_spark imported from outside {ROOT}")
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        recorded = json.load(fh)
    work = os.path.join(WORK, str(os.getpid()))
    env = pin_environment(work)
    # The session's Unix domain sockets (the library enables them) go in
    # ``work``, named relative to the checkout: a socket path may be at most
    # 107 bytes, and an absolute one would grow with the checkout's location.
    os.chdir(ROOT)
    sockets = os.path.relpath(work, ROOT)
    cores = len(os.sched_getaffinity(0))
    with PeakRss() as rss:
        try:
            spark = get_spark(
                "perfbench",
                parallelism=cores,
                extra_conf={"spark.python.unix.domain.socket.dir": sockets},
            )
            t_session = time.perf_counter() - T_START
            wl = WORKLOADS[args.workload](spark, work)

            t0 = time.perf_counter()
            probe = wl.generate(inputs.REFERENCE_SEED, probe=True)
            t_probe = time.perf_counter() - t0
            if probe != recorded.get(wl.name):
                raise SystemExit(
                    f"{wl.name}: generator fingerprint {probe} differs from "
                    f"fingerprints.json {recorded.get(wl.name)}; the workload's "
                    "inputs changed, so its baseline no longer applies"
                )
            gen_s = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                fingerprint = wl.generate(args.seed)
                gen_s.append(time.perf_counter() - t0)
            # the warm-up run is the checked run: its outputs are collected
            # and compared, so checking costs no extra pipeline run
            t0 = time.perf_counter()
            try:
                problems = wl.check_run()
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
                problems = [f"check raised {type(exc).__name__}: {exc}"[:500]]
            t_warm = time.perf_counter() - t0
            setup_s = t_session + t_probe + statistics.median(gen_s) + t_warm

            samples, raised = [], 0
            t_loop = time.perf_counter()
            while len(samples) + raised < wl.min_runs or time.perf_counter() - t_loop < args.seconds:
                t0 = time.perf_counter()
                try:
                    wl.run()
                except Exception as exc:  # noqa: BLE001 - a failed run is counted, not fatal
                    raised += 1
                    print(f"run failed: {type(exc).__name__}: {exc}"[:500], flush=True)
                    continue
                samples.append(time.perf_counter() - t0)
            peak_mb, peak_parts = rss.mb, rss.parts

            if args.trace:
                tracer = Tracer(spark, f"{wl.name}-{args.seed}")
                with tracer.span("pipeline"):
                    ratios = wl.trace(tracer)
                measured, layer_seconds = tracer.layer_metrics(cores)
                layer = {m: 0.0 for m in PER_LAYER}
                layer.update(measured)
                layer.update(ratios)
                layer["pipeline.recompute_ratio"] = (
                    statistics.median(samples) / measured["pipeline.traced_wall_s"]
                    if samples
                    else 0.0
                )
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                tracer.write(os.path.join(WORK, "traces", f"{wl.name}-{args.seed}.json"))

            conf = dict(sorted(spark.sparkContext.getConf().getAll()))
        finally:
            stop_all()
            shutil.rmtree(work, ignore_errors=True)

    if not samples:
        raise SystemExit(f"{wl.name}: every timed run raised")
    attempted = len(samples) + raised
    correct, failed = checks.outcome(attempted, raised, problems)
    wall = statistics.median(samples)
    print(
        f"perfbench workload={wl.name} seed={args.seed} trace={args.trace} "
        f"cores={cores} pyspark={pyspark.__version__} pyarrow={pyarrow.__version__}"
    )
    print(f"input: {json.dumps(fingerprint)}")
    print(
        f"setup_s {setup_s:.4f} s (session {t_session:.2f} s, generator probe "
        f"{t_probe:.2f} s, inputs {statistics.median(gen_s):.2f} s median of "
        f"{SETUP_REPEATS}, checked warm-up run {t_warm:.2f} s)"
    )
    print(f"wall_s {wall:.4f} s median; {tail(samples)}; samples {[round(s, 4) for s in samples]}")
    print(f"docs_per_s {wl.n_docs / wall:.4f} docs/s ({wl.n_docs} docs)")
    print(f"peak_rss_mb {peak_mb:.1f} MB ({peak_parts})")
    print(f"fail_ratio {failed / attempted:.4f} - ({failed} of {attempted} runs)")
    for p in problems:
        print(f"check failed: {p}")
    if args.trace:
        for name, secs in layer_seconds.items():
            print(f"layer {name}: " + ", ".join(f"{k} {v:.4f} s" for k, v in secs.items()))
    print(f"spark conf: {json.dumps(conf)}")
    print(f"environment: {json.dumps(env)}")
    print(f"total {time.perf_counter() - T_START:.2f} s")

    if args.trace:
        metrics = {m: {"value": layer[m], "unit": unit(m)} for m in PER_LAYER}
    else:
        metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "docs_per_s": {"value": wl.n_docs / wall, "unit": "docs/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
