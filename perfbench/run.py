#!/usr/bin/env python3
"""Closed-loop, single-client benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run is one fresh process: it generates its inputs from ``--seed``,
sets up a warmed session (launching the JVM), then runs passes over
the workload's items, one item at a time: a first pass, then warm
passes while the next one fits in ``--seconds`` (at least one, at most
two, one for ``aria_epoch_loop``; a traced run makes four). The first pass is reported on its own;
the warm passes give the steady-state figures. Results are checked
outside the timed region; a raise, a watchdog cancel or a wrong result
is a failure and enters the pass time at the watchdog cap.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see ``layers.py``). Every run also writes a record
with its spans to ``perfbench/.work/traces/``.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
See README.md in this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import zlib  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "txn_per_s": "1/s",
    "rss_after_gc_mb": "MB",
}

ITEM_CAP_S = 45.0  # watchdog: an item's jobs are cancelled after this
# A run does a bounded amount of work: warm passes keep getting faster
# (JIT), so a run that fitted more of them would report a lower pass_s,
# lower latencies and a higher RSS only because the host was quick.
MAX_WARM_PASSES = 2  # unless the workload sets "max_warm"
TRACED_WARM_PASSES = 4  # untraced, traced, traced, untraced
# full GCs before rss_after_gc_mb is read: objects the Python driver released
# free the heap in two or three rounds (see RssSampler.settled_mb)
SETTLE_ROUNDS = (5, 8)  # (at least, at most)

LLM_ITEMS = ["semdedup_pipeline", "sim_ann_ivf", "mm_extract_features"]

WORKLOADS: dict[str, dict] = {
    # q1-q22 plus two rank/percentile aggregates: execution-bound, no
    # spread scan, no Python UDF, no materialize.
    "olap_exec": {"kind": "queries", "scale": 0.01, "items": None},
    # construction-bound: materialize checkpoints, KMeans training, the
    # session model cache, a spread scan and an Arrow UDF stage.
    "llm_pipeline": {"kind": "queries", "scale": 0.01, "items": LLM_ITEMS},
    # the distributed epoch loop: the batch (~30k ops) is above the
    # local-path threshold set here, and the epoch budget fixes the
    # number of epochs (and so of Spark jobs) per batch.
    "aria_epoch_loop": {
        "kind": "aria", "rows": 50_000, "txns": 2000, "keys": 40_000,
        "local_threshold": 10_000, "max_epochs": 3, "batches": 1,
        "path": "distributed",
        # a second warm batch fits in a 40 s run only on a quick host
        "max_warm": 1,
    },
    # the reference configuration (200k preload, 150 txns, keys
    # U(1,20000)): under the default local-path threshold.
    "aria_ycsb_ref": {
        "kind": "aria", "rows": 200_000, "txns": 150, "keys": 20_000,
        "local_threshold": None, "max_epochs": 1000, "batches": 4,
        "path": "local",
    },
}


def fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's data scale (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row of the first item's first result, "
                         "to prove wrong results are counted (self-test)")
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Point every scratch path of Spark, the JVM and the Python
    workers inside the checkout, and make the package importable in
    the workers whatever the working directory is."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # and perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    JVM and its Python workers), sampled every 0.2 s; and the same sum
    once the JVM has dropped its garbage (``settled_mb``)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.pool_peak_kb = 0  # Spark's Python worker pool (pyspark.daemon)
        self.stop_event = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> tuple[int, int]:
        """(summed RSS of the tree, the part of it in the worker pool)"""
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        total = pool = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    in_pool = b"pyspark.daemon" in f.read()
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            kb = int(line.split()[1])
                            total += kb
                            pool += kb if in_pool else 0
                            break
            except OSError:
                pass
        return total, pool

    def _sample(self) -> tuple[int, int]:
        total, pool = self._tree_rss_kb()
        self.peak_kb = max(self.peak_kb, total)
        self.pool_peak_kb = max(self.pool_peak_kb, pool)
        return total, pool

    def run(self) -> None:
        while not self.stop_event.wait(0.2):
            self._sample()

    def settled_mb(self, spark) -> float:
        """Summed RSS of the tree once the garbage is dropped. A round
        collects Python's garbage (releasing the JVM objects the Python
        driver still pointed at), runs a full GC of the JVM and waits 0.4 s.
        Freed memory comes back in steps: Spark's cleaner removes the
        blocks and broadcasts of objects a GC found unreachable, which
        frees others it tracks a round later, and G1 returns the heap
        it shrank to the OS in the background. Rounds repeat, at least
        ``SETTLE_ROUNDS[0]``, until one moves the reading by less than
        3 MB. Spark stops idle Python workers on a timer, so the worker
        pool counts at its peak: whether a worker outlived the last
        pass is chance."""
        least, most = SETTLE_ROUNDS
        prev = None
        for i in range(most):
            gc.collect()
            spark._jvm.java.lang.System.gc()
            time.sleep(0.4)
            total, pool = self._sample()
            now = (total - pool + self.pool_peak_kb) / 1024
            if i + 1 >= least and abs(prev - now) < 3:
                break
            prev = now
        return now

    def stop(self) -> float:
        self._sample()
        self.stop_event.set()
        self.join()
        return self.peak_kb / 1024


class Watchdog:
    """Cancel the current job group once an item exceeds the cap, and
    keep cancelling: loop-driven items launch new jobs after a cancel."""

    def __init__(self, sc, cap_s: float):
        self.sc, self.cap_s = sc, cap_s
        self.group = None
        self.fired = False
        self.done = threading.Event()
        self.thread = threading.Thread(target=self._watch, daemon=True)

    def set_group(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group, interruptOnCancel=True)

    def _watch(self) -> None:
        if self.done.wait(self.cap_s):
            return
        self.fired = True
        while True:
            if self.group:
                self.sc.cancelJobGroup(self.group)
            if self.done.wait(2.0):
                return

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.done.set()
        self.thread.join()
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")


def canon_digest(columns: list[str], rows: list) -> str:
    from oracle_utils import canon

    return hashlib.sha256(repr(canon(columns, rows)).encode()).hexdigest()


class Span:
    """In-memory span tree: workload > pass > item > phase."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            item: str | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "item": item, "start": round(start - T_PROCESS, 6),
                           "end": round(end - T_PROCESS, 6)})
        return len(self.spans) - 1


# ---------------------------------------------------------------- items
class QueryItems:
    """A pass runs every query once: build the DataFrame, then collect
    it. Oracled queries must hash-match DuckDB on the same files; the
    others must return the same rows on every pass as on the first."""

    def __init__(self, names: list[str], data_dir: str):
        from gpu_database_spark import registry

        qs, oracles = registry.queries(), registry.oracle_sql()
        missing = [n for n in names if n not in qs]
        if missing:
            fail_setup(f"queries not registered: {missing}")
        self.names = names
        self.fns = {n: qs[n] for n in names}
        self.oracles = {n: oracles[n] for n in names if n in oracles}
        self.data_dir = data_dir
        self.expected: dict[str, str] = {}

    def ids(self, pass_idx: int) -> list[str]:
        return self.names

    def run(self, spark, name: str, wd: Watchdog, group: str, timing: dict):
        wd.set_group(f"{group}:build")
        t0 = time.perf_counter()
        df = self.fns[name](spark, self.data_dir)
        t1 = time.perf_counter()
        wd.set_group(f"{group}:collect")
        rows = df.collect()
        t2 = time.perf_counter()
        timing.update(build=(t0, t1), collect=(t1, t2))
        return df, (df.columns, [tuple(r) for r in rows])

    def phase_groups(self, group: str) -> dict[str, str]:
        return {"build": f"{group}:build", "collect": f"{group}:collect"}

    def n_done(self, result) -> int:
        return 1

    def compute_oracles(self) -> None:
        """Expected digests of the oracled queries, from DuckDB over the
        same files. Runs once, before the session starts."""
        import duckdb
        from oracle_utils import duck_result

        from gpu_database_spark.sources.catalog import TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.data_dir, t + '.parquet')}')"
            )
        for name, sql in self.oracles.items():
            self.expected[name] = canon_digest(*duck_result(con, sql))
        con.close()

    def check(self, spark, name: str, result) -> bool:
        digest = canon_digest(*result)
        self.expected.setdefault(name, digest)  # first pass sets the rows-only ones
        return digest == self.expected[name]


class AriaItems:
    """A pass runs ``batches`` transaction batches, each with its own
    seed: generate the ops, run the epoch protocol, then install and
    aggregate the table. The final table must equal the serial replay of
    the same batch (``_protocol_local`` over ``gen.transactions_local``)."""

    def __init__(self, cfg: dict, seed: int):
        self.cfg, self.seed = cfg, seed
        self._base_sum = None

    def ids(self, pass_idx: int) -> list[str]:
        n = self.cfg["batches"]
        return [f"batch{pass_idx * n + i}" for i in range(n)]

    def txn_seed(self, item: str) -> int:
        return (self.seed * 1009 + int(item[5:])) % (2**31)

    def phase_groups(self, group: str) -> dict[str, str]:
        return {p: f"{group}:{p}" for p in ("gen", "run_batch", "install")}

    def _params(self) -> dict:
        c = self.cfg
        return {"batch_size": c["txns"], "max_ops": 30, "keys_max": c["keys"],
                "write_rate": 0.4}

    def run(self, spark, item: str, wd: Watchdog, group: str, timing: dict):
        from pyspark.sql import functions as F

        from gpu_database_spark import gen
        from gpu_database_spark.operators import aria

        c = self.cfg
        kw = {"max_epochs": c["max_epochs"], "strict": False}
        if c["local_threshold"] is not None:
            kw["local_threshold"] = c["local_threshold"]
        wd.set_group(f"{group}:gen")
        t0 = time.perf_counter()
        table = gen.kv_table_distributed(spark, c["rows"], seed=self.seed)
        ops = gen.transactions(spark, seed=self.txn_seed(item), **self._params())
        t1 = time.perf_counter()
        wd.set_group(f"{group}:run_batch")
        res = aria.run_batch(table, ops, **kw)
        t2 = time.perf_counter()
        # the install action counts the rows and sums a CRC32 of every
        # (key, value), so every installed value is computed, and the
        # check needs no second pass over the table
        wd.set_group(f"{group}:install")
        got = res.table.agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.concat_ws(":", "key", "value"))).alias("s"),
        ).first()
        t3 = time.perf_counter()
        timing.update(gen=(t0, t1), run_batch=(t1, t2), install=(t2, t3))
        path = "distributed" if res.commit_order_df is not None else "local"
        return res.table, {"res": res, "count": got.n, "crc_sum": got.s, "path": path}

    def _replay(self, item: str):
        from gpu_database_spark import gen
        from gpu_database_spark.operators.aria import _protocol_local

        rows = gen.transactions_local(seed=self.txn_seed(item), **self._params())
        return rows, _protocol_local(rows, False, self.cfg["max_epochs"], strict=False)

    def n_done(self, result) -> int:
        return len(result["committed"])

    @staticmethod
    def _crc(key: int, value: str) -> int:
        return zlib.crc32(f"{key}:{value}".encode())

    def _base_value(self, key: int) -> str:
        return hashlib.md5(f"{self.seed}:{key}".encode()).hexdigest()

    def check(self, spark, item: str, result) -> bool:
        """Row count and an order-free checksum of every (key, value)
        must equal the replayed final table; the batch must have taken
        the workload's path."""
        rows, (winner, commit_order, epochs) = self._replay(item)
        result["committed"] = commit_order
        result["epochs"] = epochs
        result["txns"] = len({r[0] for r in rows})
        result["per_epoch"] = self._per_epoch_commits(rows, epochs)
        if self._base_sum is None:
            self._base_sum = sum(
                self._crc(k, self._base_value(k)) for k in range(1, self.cfg["rows"] + 1)
            )
        want = self._base_sum
        for k, (t, op) in winner.items():
            new = hashlib.md5(f"{t}:{op}:{k}".encode()).hexdigest()
            want += self._crc(k, new) - self._crc(k, self._base_value(k))
        return (result["path"] == self.cfg["path"] and result["count"] == self.cfg["rows"]
                and result["crc_sum"] == want and result["res"].epochs == epochs)

    def _per_epoch_commits(self, rows, epochs: int) -> list[int]:
        from gpu_database_spark.operators.aria import _protocol_local

        counts, prev = [], 0
        for e in range(1, epochs + 1):
            n = len(_protocol_local(rows, False, e, strict=False)[1])
            counts.append(n - prev)
            prev = n
        return counts


# ---------------------------------------------------------------- session
def set_up(warm_dir: str, t_start: float) -> tuple:
    """Session plus the warm-up bench.py uses (q1 and the Arrow-UDF
    query on a small table set). Returns (spark, start_s, warmup_s)."""
    from gpu_database_spark import registry
    from gpu_database_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    qs = registry.queries()
    qs["q1_pricing_summary"](spark, warm_dir).collect()
    qs["mm_extract_features"](spark, warm_dir).collect()
    return spark, t1 - t_start, time.perf_counter() - t1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    spark.stop()
    stop_jvm()


def stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# ---------------------------------------------------------------- main
def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gpu_database_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_utils.py")
    ):
        fail_setup(f"engine sources not found under {ROOT}")
    cfg = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    prepare_env(run_dir)
    try:
        import pyspark  # noqa: F401
        from gpu_database_spark import registry  # noqa: F401
    except ImportError as exc:
        fail_setup(f"cannot import the engine: {exc}")

    rss = RssSampler()
    rss.start()
    try:
        return measure(args, cfg, run_dir, rss, time.perf_counter() - T_PROCESS)
    finally:
        stop_jvm()  # no-op after a normal run; after a raise, end the JVM too
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, cfg: dict, run_dir: str, rss: RssSampler, import_s: float) -> int:
    sys.path.insert(0, HERE)
    import datagen

    t_gen = time.perf_counter()
    warm_dir = datagen.write_tables(os.path.join(run_dir, "warm"), 0.001, args.seed + 1)
    scale = args.scale if args.scale is not None else cfg.get("scale", 0.01)
    data_dir = datagen.write_tables(os.path.join(run_dir, "data"), scale, args.seed)
    gen_s = time.perf_counter() - t_gen

    if cfg["kind"] == "queries":
        names = cfg["items"]
        if names is None:
            from bench import HEADLINE

            names = [n for n in HEADLINE if re.match(r"q\d+_", n)]
            names += ["stat_spearman_rho", "agg_percentile_exact"]
        items = QueryItems(names, data_dir)
        items.compute_oracles()
    else:
        items = AriaItems(cfg, args.seed)

    # set-up: process start (minus the input generation above) to a
    # warmed session, which launches the JVM
    spans = Span()
    t0 = time.perf_counter() - import_s
    spark, start_s, warm_s = set_up(warm_dir, t0)
    setup_s = time.perf_counter() - t0
    spans.add("setup", t0, time.perf_counter(), None)
    sc = spark.sparkContext
    from gpu_database_spark.functions.materialize import release_all

    from layers import Probe, calibration_s, host_context

    host = host_context(spark)  # recorded beside every run
    probe = None
    calibration = 0.0
    if args.trace:
        probe = Probe(spark)
        calibration = calibration_s(spark)
        host["calibration_s"] = calibration

    passes: list[dict] = []
    rows_log: list[dict] = []
    attempted = failed = 0
    corrupt = args.corrupt
    root = spans.add(args.workload, time.perf_counter(), time.perf_counter(), None)
    t_measure = time.perf_counter()
    while True:
        p_idx = len(passes)
        # trace mode: the first pass is traced, then warm passes run
        # untraced, traced, traced, untraced, so that the tracing
        # overhead is measured free of the warm-up trend
        traced = probe is not None and p_idx in (0, 2, 3)
        p_start = time.perf_counter()
        pass_span = spans.add(f"pass{p_idx}", p_start, p_start, root)
        check_s = 0.0
        penalty_s = 0.0  # a failed item is charged at the cap, however fast it failed
        item_s, item_ok, layer_rows, n_done = [], [], [], 0
        for item in items.ids(p_idx):
            attempted += 1
            group = f"pb-{p_idx}-{item}"
            timing: dict = {}
            before = probe.snapshot() if traced else None
            err = None
            t_item = time.perf_counter()
            try:
                with Watchdog(sc, ITEM_CAP_S) as wd:
                    df, result = items.run(spark, item, wd, group, timing)
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
            wall = time.perf_counter() - t_item
            ok = err is None and not wd.fired
            if ok and traced:
                layer = probe.delta(before, items.phase_groups(group),
                                    df if cfg["kind"] == "queries" else None)
            t_check = time.perf_counter()
            if ok:
                if corrupt and cfg["kind"] == "queries":
                    result = (result[0], result[1][1:])
                    corrupt = False
                try:
                    ok = items.check(spark, item, result)
                except Exception as exc:  # noqa: BLE001
                    err = f"check {type(exc).__name__}: {str(exc)[:300]}"
                    ok = False
                if ok:
                    n_done += items.n_done(result)
                elif err is None:
                    err = "wrong result"
            check_s += time.perf_counter() - t_check
            # drop the item's materialization blocks once its result is
            # checked (the Aria check still reads the checkpointed table)
            release_all(spark)
            if not ok:
                failed += 1
                penalty_s += max(0.0, ITEM_CAP_S - wall)
                wall = max(wall, ITEM_CAP_S)
                print(f"perfbench: {item} pass {p_idx} FAILED: {err}", file=sys.stderr)
            item_s.append(wall)
            item_ok.append(ok)
            ispan = spans.add(item, t_item, t_item + wall, pass_span, item)
            for phase, (a, b) in timing.items():
                spans.add(phase, a, b, ispan, item)
            row = {"pass": p_idx, "item": item, "ok": ok, "wall_s": wall,
                   "traced": traced}
            row.update({f"{k}_s": b - a for k, (a, b) in timing.items()})
            if ok and cfg["kind"] == "aria":
                row["aria.path"] = result["path"]
            if ok and traced:
                row.update(layer)
                if cfg["kind"] == "queries":
                    row["collect.rows"] = len(result[1])
                else:
                    row.update(aria_layer(result, row))
                layer_rows.append(row)
            rows_log.append(row)
        p_end = time.perf_counter()
        spans.spans[pass_span]["end"] = round(p_end - T_PROCESS, 6)
        passes.append({"wall": p_end - p_start - check_s + penalty_s, "items": item_s,
                       "ok": item_ok, "done": n_done, "traced": traced,
                       "layers": layer_rows})
        n_warm = len(passes) - 1
        elapsed = time.perf_counter() - t_measure
        if probe is not None:
            if n_warm >= TRACED_WARM_PASSES:
                break
        elif n_warm >= cfg.get("max_warm", MAX_WARM_PASSES) or (
            n_warm >= 1 and elapsed + passes[-1]["wall"] > args.seconds
        ):
            break
    spans.spans[root]["end"] = round(time.perf_counter() - T_PROCESS, 6)

    # after the timed passes, so the GCs change none of the timings
    after_gc_mb = rss.settled_mb(spark)
    stop_spark(spark)
    peak_mb = rss.stop()

    warm = passes[1:]
    if args.trace:
        metrics = layer_metrics(passes, start_s, warm_s, calibration, failed,
                                attempted, peak_mb)
    else:
        # a query's latency is its median over the warm passes, so the
        # percentiles mean the same whether a run made one warm pass or
        # several (an Aria batch runs once, in one pass)
        by_item: dict[str, list[float]] = {}
        for row in rows_log:
            if row["pass"] > 0:
                by_item.setdefault(row["item"], []).append(row["wall_s"])
        warm_items = [statistics.median(v) for v in by_item.values()]
        warm_wall = sum(p["wall"] for p in warm)
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": passes[0]["wall"],
            "pass_s": statistics.median(p["wall"] for p in warm),
            "query_p50_s": percentile(warm_items, 0.5),
            "query_p90_s": percentile(warm_items, 0.9),
            "txn_per_s": sum(p["done"] for p in warm) / warm_wall,
            "rss_after_gc_mb": after_gc_mb,
        }
    units = END_TO_END
    if args.trace:
        from layers import METRICS as units

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": scale, "gen_s": gen_s, "setup_s": setup_s,
        "peak_rss_mb": peak_mb, "rss_after_gc_mb": after_gc_mb,
        "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes],
        "host": host, "items": rows_log, "spans": spans.spans,
    }
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def aria_layer(result: dict, row: dict) -> dict:
    """Aria per-batch layer values; protocol counts come from the
    serial replay, outside the timed region."""
    epochs = result["epochs"]
    txns = result["txns"]
    per_epoch = result["per_epoch"]
    committed = sum(per_epoch)
    attempts = sum((e + 1) * n for e, n in enumerate(per_epoch))
    attempts += (txns - committed) * epochs  # still live at the epoch budget
    return {
        "aria.gen_s": row.get("gen_s", 0.0),
        "aria.run_batch_s": row.get("run_batch_s", 0.0),
        "aria.install_s": row.get("install_s", 0.0),
        "aria.epochs": epochs,
        "aria.run_batch_jobs": row.get("run_batch.jobs", 0),
        "aria.attempts": attempts,
        "aria.txns": txns,
        "aria.committed": committed,
    }


def layer_metrics(passes, start_s, warm_s, calibration, failed, attempted,
                  peak_mb) -> dict:
    """Per-layer values: the median over traced warm passes of each
    per-pass sum; codegen counts come from the first pass, where the
    compiles happen."""
    from layers import METRICS, PASS_SUMS

    traced_warm = [p for p in passes[1:] if p["traced"]]
    untraced_warm = [p for p in passes[1:] if not p["traced"]]

    def per_pass(p: dict, key: str) -> float:
        return sum(float(r.get(key, 0.0)) for r in p["layers"])

    def med(key: str, pool=traced_warm) -> float:
        vals = [per_pass(p, key) for p in pool]
        return statistics.median(vals) if vals else 0.0

    m = {n: med(n) for n in PASS_SUMS}
    m["build.s"] = med("build_s")
    m["collect.s"] = med("collect_s")
    m["codegen.compiles"] = med("codegen.compiles", passes[:1])
    m["codegen.compile_ms"] = med("codegen.compile_ms", passes[:1])
    wall = statistics.median(p["wall"] for p in traced_warm) if traced_warm else 0.0
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    m["exec.slot_util"] = m["exec.run_ms"] / max(1e-9, wall * 1000 * cores)
    epochs = med("aria.epochs")
    m["aria.jobs_per_epoch"] = med("aria.run_batch_jobs") / epochs if epochs else 0.0
    txns, attempts = med("aria.txns"), med("aria.attempts")
    m["aria.attempts_per_txn"] = attempts / txns if txns else 0.0
    m["aria.abort_frac"] = (1 - med("aria.committed") / attempts) if attempts else 0.0
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warm_s
    m["failed_frac"] = failed / attempted
    m["host.calibration_s"] = calibration
    m["mem.peak_rss_mb"] = peak_mb
    if untraced_warm and traced_warm:
        m["trace.overhead_frac"] = wall / statistics.median(
            p["wall"] for p in untraced_warm) - 1
    else:
        m["trace.overhead_frac"] = 0.0
    return {n: m.get(n, 0.0) for n in METRICS}


if __name__ == "__main__":
    sys.exit(main())
