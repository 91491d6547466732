#!/usr/bin/env python3
"""The repository's benchmark: seeded inputs, cold passes, checked
outputs, end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout (any working directory works; paths
are resolved from this file).  It

1. generates the workload's inputs from --seed (cached under
   .perfbench/inputs/ in the checkout),
2. sets up a Spark session on local[4] three times -- session start,
   `registry.load_all_queries()`, one warm-up query -- and takes the
   median as `setup_s`,
3. runs one untimed warm-up pass over the workload's queries (the
   first pass in a new JVM is the slowest and the least steady), then
   measured cold passes for --seconds: a pass starts while the median
   pass so far still fits, and there are at least two.  Cached data
   is cleared before every pass,
4. checks every output: DuckDB oracles through `oracle_check`, exact
   generator counts for the word count,
5. prints one summary line, then the result as the last line of
   standard output: one JSON object with correct, attempted, failed
   and metrics.

With --trace 1 the run makes the warm-up pass and splits --seconds in
three: untraced passes, then traced passes in a new session with
Spark's event log (uncompressed) and a StreamingQueryListener, then
untraced passes again in a new session.  It reports the per-layer
metrics of the median traced pass.  Its span tree, with self times,
goes to .perfbench/traces/.  Scratch files
(warehouse, Spark local dirs, checkpoints, sinks) live in a temp root
under .perfbench/tmp/ that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "db_mapreduce_project_spark"
WORK = os.path.join(ROOT, ".perfbench")
MASTER = "local[4]"
SETUPS = 3
MIN_PASSES = 2  # measured passes per run, whatever --seconds
WARMUP_QUERY = "wordcount"
CACHE_KEEP = 3  # generated input sets kept per workload and scale

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

WORKLOADS = {
    "wordcount_zipf": ("wordcount_zipf",),
    "dedup_stream": ("dedup_clusters_largestar", "stream_sink_left_outer_join"),
}


def _median_pass(passes: list[dict]) -> dict:
    """The pass whose run_s is the (lower) median."""
    ranked = sorted(passes, key=lambda p: p["run_s"])
    return ranked[(len(ranked) - 1) // 2]


class Bench:
    def __init__(self, workload: str, inputs: str, warm_dir: str, tmp: str) -> None:
        self.workload = workload
        self.inputs = inputs
        self.warm_dir = warm_dir
        self.tmp = tmp
        self.spark = None
        self.registry = None
        self.oracles: dict[str, object] = {}
        self.failures: list[str] = []
        self.attempted = 0

    # -- session -------------------------------------------------------
    def _conf(self, event_log: str | None) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",  # keeps stderr readable
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self, event_log: str | None = None) -> dict[str, float]:
        """Start a fresh session, import the package's registry afresh
        and run the warm-up query.  Later set-ups reuse the JVM the
        first one launched."""
        t0 = time.time()
        if self.spark is not None:
            self.spark.stop()
            for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[name]
        session = importlib.import_module(PKG + ".session")
        self.spark = session.get_spark("perfbench", master=MASTER, extra_conf=self._conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        self.registry = importlib.import_module(PKG + ".registry")
        self.registry.load_all_queries()
        t2 = time.time()
        self.registry.QUERIES[WARMUP_QUERY](self.spark, self.warm_dir).toPandas()
        t3 = time.time()
        self.clear()
        return {"setup_s": t3 - t0, "session.start_s": t1 - t0, "registry.load_s": t2 - t1, "session.warmup_s": t3 - t2}

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def stored_left(self) -> tuple[int, float]:
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)
        return len(sc._jsc.getPersistentRDDs()), mb

    # -- one cold pass -------------------------------------------------
    def run_pass(self, rec, rss, trace: bool) -> dict:
        self.clear()
        sink_root = os.path.join(self.tmp, "sink")
        shutil.rmtree(sink_root, ignore_errors=True)
        rss.take_peak_mb()
        frames = {}
        with rec.span("pass", "pass") as sp:
            for step in WORKLOADS[self.workload]:
                self.attempted += 1
                try:
                    with rec.span(step, "step"):
                        frames[step] = self._run_step(rec, step, sink_root)
                except Exception:
                    self.failures.append(f"{step}: raised\n{traceback.format_exc(limit=4)}")
                    frames[step] = None
        p = {"span": sp, "run_s": sp["end"] - sp["start"], "peak_rss_mb": rss.take_peak_mb()}
        steps = [s for s in rec.spans[sp["id"] :] if s["parent"] == sp["id"]]
        print("pass: " + " ".join(f"{s['name']}={s['end'] - s['start']:.2f}" for s in steps), file=sys.stderr)
        p["store.rdds_left"], p["store.cached_mb_left"] = self.stored_left()
        for step, out in frames.items():
            if out is not None:
                self._check(step, out, sink_root)
        if trace:
            p["plans.exchanges"] = self._exchanges(frames)
        return p

    def _run_step(self, rec, step: str, sink_root: str):
        if step == "wordcount_zipf":
            from pyspark.sql import functions as F

            readers = importlib.import_module(PKG + ".sources.readers")
            text = importlib.import_module(PKG + ".functions.text")
            writers = importlib.import_module(PKG + ".sources.writers")
            with rec.span("construct", "operators"):
                with rec.span("sources.read_text", "sources"):
                    lines = readers.read_text(self.spark, os.path.join(self.inputs, "corpus"))
                with rec.span("functions.words", "functions"):
                    toks = text.words(lines, "value")
                df = toks.groupBy("word").agg(F.count("*").alias("cnt"))
            with rec.span("sources.writers.write_wordcount_text", "action"):
                writers.write_wordcount_text(df, os.path.join(sink_root, "wordcount"))
            return df
        with rec.span("construct", "operators"):
            df = self.registry.QUERIES[step](self.spark, self.inputs)
        with rec.span("materialize", "action"):
            pdf = df.toPandas()
        return df, pdf

    def _exchanges(self, frames: dict) -> int:
        inspect = importlib.import_module(PKG + ".plans.inspect")
        total = 0
        for out in frames.values():
            if out is not None:
                total += inspect.count_exchanges(out[0] if isinstance(out, tuple) else out)
        return total

    # -- checks --------------------------------------------------------
    def _check(self, step: str, out, sink_root: str) -> None:
        if step == "wordcount_zipf":
            problem = _check_wordcount(os.path.join(sink_root, "wordcount"), os.path.join(self.inputs, "counts.json"))
        else:
            problem = self._check_oracle(step, out[1])
        if problem:
            self.failures.append(f"{step}: {problem}")

    def _check_oracle(self, step: str, pdf) -> str | None:
        oracle_check = importlib.import_module(PKG + ".oracle_check")
        sql = self.registry.ORACLES.get(step)
        if sql is None:
            # No oracle: the query must at least return rows.
            return None if len(pdf) else "returned no rows"
        if step not in self.oracles:
            import duckdb

            con = duckdb.connect()
            try:
                for f in os.listdir(self.inputs):
                    if f.endswith(".parquet"):
                        path = os.path.join(self.inputs, f)
                        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
                self.oracles[step] = con.execute(sql).df()
            finally:
                con.close()
        res = oracle_check.compare_frames(step, pdf, self.oracles[step])
        return None if res.ok else "; ".join(res.errors)


def _check_wordcount(out_dir: str, counts_path: str) -> str | None:
    with open(counts_path) as f:
        expected = json.load(f)["counts"]
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    if len(parts) != 1:
        return f"expected one output file, found {len(parts)}"
    with open(os.path.join(out_dir, parts[0])) as f:
        lines = f.read().splitlines()
    words = [ln.split(" ")[0] for ln in lines]
    if words != sorted(words):
        return "output is not sorted by word"
    got = {w: int(c) for w, c in (ln.split(" ") for ln in lines)}
    if got != expected:
        wrong = [w for w in set(got) | set(expected) if got.get(w) != expected.get(w)]
        return f"{len(wrong)} words with wrong counts, e.g. {sorted(wrong)[:3]}"
    return None


def _inputs(workload: str, seed: int, scale: str, corpus_tokens: int | None) -> tuple[str, str]:
    import gen

    base = os.path.join(WORK, "inputs", f"{scale}-{corpus_tokens}t" if corpus_tokens else scale)
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"{workload}-{seed}")
    if not os.path.isdir(path):
        gen.generate(path, workload, seed, scale, corpus_tokens)
        cached = sorted(
            (os.path.join(base, d) for d in os.listdir(base) if d.startswith(workload + "-") and not d.endswith(".partial")),
            key=os.path.getmtime,
        )
        for old in cached[:-CACHE_KEEP]:
            if old != path:
                shutil.rmtree(old, ignore_errors=True)
    warm = os.path.join(WORK, "inputs", "warmup")
    if not os.path.isdir(warm):
        gen.warmup_documents(warm)
    return path, warm


def _tokens(inputs: str) -> int:
    with open(os.path.join(inputs, "counts.json")) as f:
        return json.load(f)["tokens"]


def run(args) -> dict:
    import tracing

    t0 = time.time()
    inputs, warm = _inputs(args.workload, args.seed, args.scale, args.corpus_tokens)
    t_inputs = time.time() - t0
    tmp = os.path.join(WORK, "tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    # Spark, its Python workers and the package's own scratch dirs all
    # take their temp locations from here, inside the checkout.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    tempfile.tempdir = tmp
    bench = Bench(args.workload, inputs, warm, tmp)
    try:
        with tracing.RssSampler() as rss:
            setups = [bench.setup() for _ in range(SETUPS)]
            t_setups = time.time() - t0
            rec = tracing.Recorder()
            bench.run_pass(rec, rss, trace=False)  # warm-up, not measured
            if not args.trace:
                result = {"setups": setups, "passes": _passes(bench, rec, rss, args.seconds, trace=False, least=MIN_PASSES)}
            else:
                # Untraced, traced, untraced again: the untraced passes
                # bracket the traced ones, so JIT warm-up over the run
                # does not masquerade as (negative) tracing overhead.
                third = args.seconds / 3
                plain = _passes(bench, rec, rss, third, trace=False)
                result = _traced(args, bench, rss, tmp, third)
                bench.setup()
                plain += _passes(bench, rec, rss, third, trace=False)
                result.update(setups=setups, passes=plain)
        t_passes = time.time() - t0
    finally:
        _shutdown(bench)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"phases (s): inputs={t_inputs:.2f} setups={t_setups:.2f} passes={t_passes:.2f} stopped={time.time() - t0:.2f}", file=sys.stderr)
    return {**result, "bench": bench, "inputs": inputs}


def _shutdown(bench: Bench) -> None:
    """Stop Spark and wait for the JVM: closing its stdin makes the
    gateway server exit, which also ends the Python workers."""
    from pyspark import SparkContext

    if bench.spark is not None:
        bench.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _passes(bench: Bench, rec, rss, budget: float, trace: bool, least: int = 1) -> list[dict]:
    """At least `least` passes; then another while the median pass so
    far would still end within `budget`."""
    passes: list[dict] = []
    start = time.time()
    while len(passes) < least or time.time() - start + statistics.median(p["run_s"] for p in passes) <= budget:
        passes.append(bench.run_pass(rec, rss, trace))
    return passes


def _traced(args, bench: Bench, rss, tmp: str, budget: float) -> dict:
    import tracing

    log_dir = os.path.join(tmp, "eventlog")
    os.makedirs(log_dir)
    bench.setup(event_log=log_dir)
    probe = tracing.StreamProbe()
    bench.spark.streams.addListener(probe)
    rec = tracing.Recorder()
    traced = _passes(bench, rec, rss, budget, trace=True)
    bench.spark.stop()
    bench.spark = None
    tracing.attach_log_spans(rec, tracing.EventLog(tracing.find_event_log(log_dir)), probe)
    selfs = tracing.self_times(rec)
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "self_s_by_layer": selfs, "spans": rec.spans}, f)
    print("self time by layer (s): " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(selfs.items())), file=sys.stderr)
    return {"traced": traced, "traced_rec": rec}


def metrics(args, res: dict) -> dict[str, float]:
    setups, passes = res["setups"], res["passes"]
    run_s = statistics.median(p["run_s"] for p in passes)
    if not args.trace:
        return {"run_s": run_s, "setup_s": statistics.median(s["setup_s"] for s in setups)}
    import tracing

    best = _median_pass(res["traced"])
    out = {k: statistics.median(s[k] for s in setups) for k in ("session.start_s", "registry.load_s", "session.warmup_s")}
    out.update(tracing.layer_metrics(res["traced_rec"], best["span"]))
    for k in ("plans.exchanges", "store.rdds_left", "store.cached_mb_left"):
        out[k] = best[k]
    out["trace.overhead_s"] = statistics.median(p["run_s"] for p in res["traced"]) - run_s
    out["peak_rss_mb"] = statistics.median(p["peak_rss_mb"] for p in passes)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench", help="input size; tiny is for the smoke test")
    ap.add_argument("--corpus-tokens", type=int, help="override the scale's word-count corpus size")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG}/ not found next to {os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    # This process (Spark's driver) and its Python workers import the
    # package from the checkout, whatever the working directory.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    res = run(args)
    bench = res["bench"]
    values = metrics(args, res)
    for f in bench.failures:
        print(f"FAILED {f}", file=sys.stderr)
    passes = res["passes"]
    runs = sorted(p["run_s"] for p in passes)
    summary = (
        f"{args.workload} seed={args.seed}: run_s median={statistics.median(runs):.3f} max={runs[-1]:.3f} "
        f"n={len(runs)} | setup_s median={statistics.median(s['setup_s'] for s in res['setups']):.3f} "
        f"n={len(res['setups'])} | fail_ratio={len(bench.failures)}/{bench.attempted} "
        f"| peak_rss_mb median={statistics.median(p['peak_rss_mb'] for p in passes):.1f}"
    )
    if args.workload == "wordcount_zipf":
        summary += f" | tokens_per_s={_tokens(res['inputs']) / statistics.median(runs):.0f}"
    print(summary)
    print("setups (total/session/registry/warm-up s): " + ", ".join("/".join(f"{v:.2f}" for v in s.values()) for s in res["setups"])
          + " | passes (s): " + ", ".join(f"{r:.2f}" for r in runs), file=sys.stderr)
    listed = SPEC["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
