"""spark-graft benchmark: one closed-loop client against ``local[nproc]``.

Usage::

    python3 perfbench/run.py --workload analyst_session --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/README.md``): ``analyst_session`` runs
registry queries in one long-lived session; ``etl_upload`` posts
generated documents to an in-process ``server.EtlServer``. The run
builds its session, measures whole cycles of the workload's operations
until it has lasted ``--seconds``, checks every output outside the timed
region and prints one line per operation and per metric followed by a
JSON summary as the last line. ``--trace 1`` records spans around each
layer's entry points and prints the per-layer metrics instead of the
end-to-end ones.

The analyst's queries read the project's sf0.1 reference tables, kept
under ``perfbench/data``. Everything the run writes stays under
``.perfbench/`` in the checkout: cached oracle answers (reused by later
runs) and a per-run directory for Spark's local dirs, warehouse and the
server's work dir (deleted at exit). Traces go to ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
import uploads  # noqa: E402
import workloads  # noqa: E402
from tracing import JobReader, Tracer, instrument  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# The project's reference tables at scale factor 0.1 (TESTDATA.md), the
# data ``bench.py`` runs on, kept byte for byte under ``perfbench/data``.
SF_DIR = os.path.join(HERE, "data", "sf0.1")
# run once, untimed, in set-up; not among the analyst's timed queries
WARMUP_QUERIES = ["q03_shipping_priority"]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

END_TO_END = {
    "setup_s": "s",
    "throughput_ops_s": "1/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}


def pin_environment(run_dir: str) -> dict[str, str]:
    """Core count, local dirs and driver memory for this run."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # a 1g JVM heap fits every operation and the box's RAM
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
    }
    # keep every JVM's temp files (and hsperfdata) out of /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    for path in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(env)
    return env


def oracle_answer(con, sf_dir: str, name: str, sql: str):
    """DuckDB's answer for ``name``, cached per dataset and SQL text."""
    cache_dir = os.path.join(WORK, "oracle-" + os.path.basename(sf_dir))
    os.makedirs(cache_dir, exist_ok=True)
    digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{name}-{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    odf = con.sql(sql).df()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(odf, f)
    os.rename(tmp, path)
    return odf


def matches_oracle(sdf, odf) -> None:
    """The registry's parity rule (``scripts/parity.py``): same columns,
    same rows in any order, values equal after casting to Spark's types."""
    import pandas as pd

    scols = sorted(sdf.columns)
    s = sdf[scols].sort_values(scols).reset_index(drop=True)
    o = (
        odf[scols]
        .sort_values(scols)
        .reset_index(drop=True)
        .astype({c: s[c].dtype for c in scols})
    )
    pd.testing.assert_frame_equal(s, o)


def post_upload(port: int, filename: str, payload: bytes) -> dict:
    import urllib.request
    import uuid

    boundary = uuid.uuid4().hex
    head = (
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"inputFile\"; "
        f"filename=\"{filename}\"\r\nContent-Type: application/octet-stream\r\n\r\n"
    ).encode()
    body = head + payload + f"\r\n--{boundary}--\r\n".encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/run-etl",
        data=body,
        headers={"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    with urllib.request.urlopen(req, timeout=170) as resp:
        return json.loads(resp.read())


class Session:
    """The long-lived Spark session (and, for uploads, the server)."""

    def __init__(self, workload: str, run_dir: str, tracer: Tracer) -> None:
        from etl_pipeline_project_auraverse_spark.session import get_spark

        with tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{workload}",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    # start the heap at its maximum, so the peak resident
                    # set does not depend on when the collector grew it
                    # (get_spark warns that this differs from the context's
                    # value: Spark appends it to its own default options)
                    "spark.driver.extraJavaOptions": "-Xms"
                    + os.environ["SPARK_GRAFT_DRIVER_MEM"],
                },
            )
        self.server = None
        if workload == "etl_upload":
            from etl_pipeline_project_auraverse_spark.server import EtlServer

            self.server = EtlServer(os.path.join(run_dir, "server"), spark=self.spark)
            self.server.start()
        else:
            from etl_pipeline_project_auraverse_spark import queries

            with tracer.span("queries.load_all"):
                queries.load_all()
            self.queries = queries
        with tracer.span("session.warmup"):
            self.warm_up()
        # from process start (interpreter, imports, JVM launch) to here
        self.setup_s = stats.process_age_s()

    def warm_up(self) -> None:
        """The session's first Spark job, the Python workers behind
        pandas UDFs and, for queries, TPC-H queries outside the timed
        set (parquet scans, joins, aggregation and the Arrow collect).
        The timed queries and uploads are not pre-run: each pays its own
        code generation, and a query's first touch builds its indexes."""
        spark = self.spark
        spark.range(0, 100_000, numPartitions=4).selectExpr("sum(id)").collect()
        spark.range(0, 1000, numPartitions=4).mapInPandas(
            lambda batches: batches, "id long"
        ).toPandas()
        if self.server is None:
            for name in WARMUP_QUERIES:
                self.queries.QUERIES[name](spark, SF_DIR).toPandas()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop the server, the session and the JVM. A JVM that died
        during the run (a fatal executor error) only needs reaping."""
        from pyspark import SparkContext

        try:
            if self.server is not None:
                self.server.stop()
            self.spark.stop()
        except Exception:  # noqa: BLE001 — the failure is already counted
            traceback.print_exc()
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001
                traceback.print_exc()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def stop_descendants() -> None:
    """Terminate and wait for any process this run left behind."""
    pids = stats.descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 20
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


class Runner:
    def __init__(self, args: argparse.Namespace, run_dir: str, sf_dir: str, tracer: Tracer):
        self.args = args
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.records: list[dict] = []  # one per operation
        self.results: dict[str, object] = {}  # first result per query
        self.errors: list[str] = []

    # -- operations -----------------------------------------------------------
    def query_op(self, sess: Session, name: str, rec: dict) -> None:
        tr = self.tracer
        with tr.span("queries.builder") as sp:
            df = sess.queries.QUERIES[name](sess.spark, self.sf_dir)
        rec["builder_s"] = sp.duration()
        if tr.enabled:
            with tr.span("spark.plan") as sp:
                df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = sp.duration()
        try:
            with tr.span("spark.exec") as sp:
                pdf = df.toPandas()
        finally:
            rec["exec_s"] = sp.duration()
        self.results.setdefault(name, pdf)

    def upload_op(self, sess: Session, index: int, rec: dict) -> None:
        up = uploads.make_upload(self.args.seed, index)
        rec["upload"] = up
        rec["in_bytes"] = len(up.payload)
        tr = self.tracer
        root = tr.op_root
        with tr.span("server.request") as sp:
            # spans of the server thread nest under the request
            tr.op_root = sp.id if tr.enabled else None
            try:
                rec["response"] = post_upload(sess.server.port, up.filename, up.payload)
            finally:
                tr.op_root = root
        out_csv = os.path.join(self.run_dir, "server", "data", "output.csv")
        if os.path.exists(out_csv):
            kept = os.path.join(self.run_dir, f"out{index}.csv")
            shutil.copyfile(out_csv, kept)
            rec["out_csv"] = kept

    def measure(self, sess: Session) -> tuple[float, float]:
        """Whole cycles back to back until the run has lasted
        ``--seconds``; returns (window start, end)."""
        tr = self.tracer
        jobs = JobReader.for_session(sess.spark) if tr.enabled else None
        wl = self.args.workload
        start = end = time.perf_counter()
        cycle = 0
        while cycle == 0 or end - start < self.args.seconds:
            if wl == "etl_upload":
                n = len(uploads.DOCS)
                names = [f"upload{i}" for i in range(cycle * n, (cycle + 1) * n)]
            else:
                names = workloads.query_cycle(self.args.seed, cycle)
            for name in names:
                end = self.run_op(sess, name, jobs)
            cycle += 1
        return start, end

    def run_op(self, sess: Session, name: str, jobs) -> float:
        tr = self.tracer
        i = len(self.records)
        rec = {"op": i, "name": name, "ok": True}
        tr.op_id = i
        t0 = time.perf_counter()
        with tr.span("client.op", query=name) as root:
            tr.op_root = root.id if tr.enabled else None
            try:
                if name.startswith("upload"):
                    self.upload_op(sess, int(name[len("upload"):]), rec)
                else:
                    self.query_op(sess, name, rec)
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                rec["ok"] = False
                self.errors.append(f"{name}: {traceback.format_exc(limit=2)}")
        end = time.perf_counter()
        rec["latency_s"] = end - t0
        tr.op_root = None
        if jobs is not None:
            rec.update(jobs.collect())
            rec["bookkeeping_s"] = time.perf_counter() - end
        self.records.append(rec)
        return end

    # -- checks (untimed) -------------------------------------------------------
    def check(self, sess: Session) -> None:
        if self.args.workload == "etl_upload":
            for rec in self.records:
                if rec["ok"] and not check_upload(rec):
                    rec["ok"] = False
                    self.errors.append(f"{rec['name']}: {rec.get('check_error')}")
            return
        import duckdb

        con = duckdb.connect()
        con.sql(f"SET temp_directory='{os.path.join(self.run_dir, 'duckdb')}'")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        bad: set[str] = set()
        for name, sdf in self.results.items():
            try:
                odf = oracle_answer(con, self.sf_dir, name, sess.queries.ORACLE[name])
                matches_oracle(sdf, odf)
            except Exception as exc:  # noqa: BLE001 — every miss is reported
                bad.add(name)
                self.errors.append(f"{name}: oracle mismatch: {str(exc)[:300]}")
        con.close()
        for rec in self.records:
            if rec["name"] in bad:
                rec["ok"] = False


def check_upload(rec: dict) -> bool:
    """Response shape and the generator's record ids in the output CSV."""
    import csv

    up, resp = rec["upload"], rec["response"]
    if not (resp.get("success") is True and resp.get("table") and isinstance(resp.get("schema"), dict)):
        rec["check_error"] = f"bad response: {str(resp)[:200]}"
        return False
    if "out_csv" not in rec:
        rec["check_error"] = "no output CSV"
        return False
    with open(rec["out_csv"], newline="", encoding="utf-8") as f:
        rows = list(csv.DictReader(f))
    rids = {r.get("rid") for r in rows} - {None, ""}
    if rids != set(up.rids):
        rec["check_error"] = (
            f"{up.kind}: {len(rids)} record ids in output, {len(up.rids)} generated "
            f"({len(rids - up.rids)} unexpected)"
        )
        return False
    logs = sum(1 for r in rows if r.get("_log_entry"))
    if logs != up.log_lines:
        rec["check_error"] = f"{up.kind}: {logs} log rows, {up.log_lines} generated"
        return False
    rec["out_bytes"] = os.path.getsize(rec["out_csv"])
    return True


def end_to_end(records: list[dict], window: float, setup_s: float,
               rss_mb: float) -> dict[str, float]:
    ok = sum(1 for r in records if r["ok"])
    return {
        "setup_s": setup_s,
        "throughput_ops_s": ok / window,
        "latency_p50_s": stats.median(r["latency_s"] for r in records),
        "peak_rss_mb": rss_mb,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import etl_pipeline_project_auraverse_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import layers

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        env = pin_environment(run_dir)
        sf_dir = SF_DIR if args.workload != "etl_upload" else ""
        tracer = Tracer(enabled=bool(args.trace))
        steal0, total0 = stats.cpu_times()
        sess = Session(args.workload, run_dir, tracer)
        try:
            if tracer.enabled:
                instrument(tracer)
            runner = Runner(args, run_dir, sf_dir, tracer)
            pids = [os.getpid(), sess.jvm_pid()]
            written0 = stats.written_bytes(pids)
            start, end = runner.measure(sess)
            written = stats.written_bytes(pids) - written0
            rss_split = [stats.peak_rss_mb([pid]) for pid in pids]
            rss_mb = sum(rss_split)
            steal1, total1 = stats.cpu_times()
            runner.check(sess)
        finally:
            sess.close()
        stop_descendants()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    records = runner.records
    failed = sum(1 for r in records if not r["ok"])
    window = end - start
    e2e = end_to_end(records, window, sess.setup_s, rss_mb)
    disk_mb = written / 2**20 / len(records)
    tail, beyond = stats.tail_latency([r["latency_s"] for r in records])
    env["steal_frac"] = f"{(steal1 - steal0) / max(total1 - total0, 1):.4f}"
    env["data"] = os.path.relpath(sf_dir, ROOT) if sf_dir else "generated uploads"
    for rec in records:
        print(f"op {rec['op']} {rec['name']} {rec['latency_s']:.3f} s{'' if rec['ok'] else ' FAILED'}")
    for err in runner.errors:
        print(f"FAILED {err}")
    print(f"# {args.workload} seed={args.seed} ops={len(records)} window_s={window:.3f} "
          f"peak_rss_mb python={rss_split[0]:.1f} jvm={rss_split[1]:.1f} "
          f"settings={json.dumps(env, sort_keys=True)}")
    if tracer.enabled:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(trace_path)
        ok = len(records) - failed
        metrics = layers.per_layer(
            records, tracer, int(env["SPARK_GRAFT_CPUS"]), window, ok, disk_mb
        )
        units = {k: unit for k, (unit, _) in layers.PER_LAYER.items()}
        for layer, secs in sorted(stats.layer_self_times(tracer.spans).items()):
            print(f"self_time {layer} {secs:.4f} s (spans in {trace_path})")
    else:
        metrics, units = e2e, END_TO_END
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    # printed with every run but not in the JSON line. A run has at most
    # 10 operations, so latency_tail_s is the slowest one, a single cold
    # first touch whose run-to-run spread exceeds any bound the benchmark
    # may set; failed_frac is 0 on a healthy run; disk_write_mb (small
    # shuffle and temp files, about 12 KB per task) varies by a quarter
    # between upload runs. None can carry a relative regression bound;
    # the traced run reports disk_write_mb as a per-layer metric.
    if not tracer.enabled:
        print(f"latency_tail_s {tail:.6g} s ({beyond} samples beyond)")
    print(f"failed_frac {failed / len(records):.6g} fraction ({failed} of {len(records)})")
    if not tracer.enabled:
        print(f"disk_write_mb {disk_mb:.6g} MB/op")
    summary = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
