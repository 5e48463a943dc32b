"""Run one workload of the layered benchmark and print its result.

    python3 layerbench/run.py --workload W --seed N --seconds S --trace 0|1 [--scale F]

Builds the program from source when needed (layerbench/build.py), runs
the workload in one JVM (layerbench.Main), then checks the first warm-up
pass's results against DuckDB reference SQL over the same input files.
The last line of standard output is one JSON object: correct, attempted,
failed, and the metrics named in BENCHMARK.json -- the end-to-end ones
with --trace 0, the per-layer ones with --trace 1. The full record of the
run (every pass, host noise, failures) is kept in
<build dir>/last_result_<workload>.json, and a traced run's spans in
<build dir>/last_trace_<workload>.json.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("indexed_pipeline", "text_dedup", "iterate", "stream_ingest")
# A fixed, pre-touched heap (no resizing and re-faulting between passes)
# and GC threads below the core count, so collections do not preempt
# every task thread at once.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ParallelGCThreads=2",
            "-XX:ConcGCThreads=1", "-Xss4m"]


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def close(a, b, rel=1e-9):
    return a is not None and b is not None and abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def check_indexed_pipeline(con, data, out, claims, check):
    li, ev = parquet(f"{data}/lineitem.parquet"), parquet(f"{data}/events.parquet")
    q = con.execute
    check("median", lambda: close(claims["median"],
          q(f"SELECT quantile_cont(l_extendedprice, 0.5) FROM {li}").fetchone()[0]))
    check("skewness", lambda: close(claims["skewness"], q(f"""
        WITH f AS (SELECT l_extendedprice AS x FROM {li}),
        m AS (SELECT count(*) AS n, avg(x) AS mu FROM f),
        c AS (SELECT n, sum(pow(x - mu, 2)) / n AS varp,
                     sum(pow(x - mu, 3)) AS s3 FROM f, m GROUP BY n, mu)
        SELECT (n / ((n - 1.0) * (n - 2.0))) * (s3 / pow(sqrt(varp), 3)) FROM c""").fetchone()[0],
        rel=1e-6))

    def tumble():
        ref = q(f"""
            WITH v AS (SELECT l_extendedprice * 2.0 + 1.0 AS v,
                       row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS idx FROM {li}),
            s AS (SELECT v, row_number() OVER (ORDER BY v DESC, idx) - 1 AS r FROM v)
            SELECT r // 1000, count(*), sum(v) FROM s GROUP BY 1 ORDER BY 1""").fetchall()
        got = claims["tumble"]
        return len(ref) == len(got) and all(
            int(w) == int(rw) and int(n) == int(rn) and close(s, rs)
            for (w, n, s), (rw, rn, rs) in zip(got, ref))
    check("tumble", tumble)
    check("grouped_running_total", lambda: q(f"""
        WITH r AS (SELECT e_id, sum(e_value) OVER (PARTITION BY e_key ORDER BY e_ts, e_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM {ev})
        SELECT count(*) FROM r FULL JOIN {parquet(f"{out}/running.parquet")} o USING (e_id)
        WHERE r.cum IS DISTINCT FROM o.cum""").fetchone()[0] == 0)


def check_text_dedup(con, data, out, claims, check):
    docs = parquet(f"{data}/documents.parquet")
    check("exact_groups", lambda: con.execute(f"""
        WITH r AS (SELECT doc_id AS id, min(doc_id) OVER w AS canonical_id,
                   count(*) OVER w AS group_size FROM {docs} WINDOW w AS (PARTITION BY md5(text)))
        SELECT count(*) FROM r FULL JOIN {parquet(f"{out}/exact.parquet")} o USING (id)
        WHERE r.canonical_id IS DISTINCT FROM o.canonical_id
           OR r.group_size IS DISTINCT FROM o.group_size""").fetchone()[0] == 0)


def check_iterate(con, data, out, claims, check):
    # the pageRank recurrence of the repo's q84 oracle, for the 2 rounds the
    # workload runs, damping 0.85
    con.execute(f"CREATE VIEW orders AS SELECT * FROM {parquet(f'{data}/orders.parquet')}")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM {parquet(f'{data}/lineitem.parquet')}")
    rounds = ",\n".join(f"""r{i} AS (
        SELECT n.id, (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c.cin, 0.0) AS pr
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS id, sum(r.pr / d.deg) AS cin
          FROM e JOIN r{i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.src
          GROUP BY 1) c USING (id))""" for i in range(1, 3))
    ref = dict(con.execute(f"""
        WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                    's' || CAST(l_suppkey AS VARCHAR) AS dst
                    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        nodes AS (SELECT DISTINCT src AS id FROM e),
        nn AS (SELECT count(*) AS n FROM nodes),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
        {rounds}
        SELECT id, pr FROM r2""").fetchall())
    got = dict(con.execute(
        f"SELECT node, rank FROM {parquet(f'{out}/pagerank.parquet')}").fetchall())
    check("pagerank_oracle", lambda: ref.keys() == got.keys() and all(
        abs(ref[k] - got[k]) <= 1e-9 for k in ref))
    # the rank terminals against the oracle's ranks: median, and the
    # sample skewness formula of the indexed_pipeline check
    xs = sorted(ref.values())
    n = len(xs)
    check("rank_median", lambda: abs(claims["rank_median"] - statistics.median(xs)) <= 1e-9)
    mu = sum(xs) / n
    varp = sum((x - mu) ** 2 for x in xs) / n
    s3 = sum((x - mu) ** 3 for x in xs)
    check("rank_skewness", lambda: close(
        claims["rank_skewness"], (n / ((n - 1.0) * (n - 2.0))) * (s3 / varp ** 1.5), rel=1e-6))


CHECKS = {"indexed_pipeline": check_indexed_pipeline, "text_dedup": check_text_dedup,
          "iterate": check_iterate, "stream_ingest": lambda *a: None}


def duckdb_checks(workload, work):
    """Run the workload's reference SQL; return (attempted, failed, names failed)."""
    import duckdb
    tally = {"attempted": 0, "failed": []}

    def check(name, fn):
        tally["attempted"] += 1
        try:
            ok = fn()
        except Exception as e:  # a reference that cannot run is a failed check
            print(f"[layerbench] duckdb check {name} raised: {e}", file=sys.stderr)
            ok = False
        if not ok:
            tally["failed"].append(name)

    with open(os.path.join(work, "out", "claims.json")) as f:
        claims = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    CHECKS[workload](con, os.path.join(work, "data"), os.path.join(work, "out"), claims, check)
    con.close()
    return tally["attempted"], len(tally["failed"]), tally["failed"]


def contract():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (1.0 = the benchmark's sizes)")
    a = ap.parse_args()
    t0 = time.time()
    spec = contract()
    classpath = build.ensure()
    # a run may take 180 s, or 900 s when it compiled the program; keep a
    # margin for the checks and the cleanup after the JVM
    limit = 900 if time.time() - t0 > 30 else 180
    budget = limit - 25 - (time.time() - t0)

    bdir = build.build_dir()
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *build.JAVA_OPTS, *JVM_OPTS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath, "layerbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--scale", str(a.scale), "--work", work]
    log_path = os.path.join(bdir, f"last_jvm_{a.workload}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10.0, budget))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.exit(f"layerbench: {a.workload} did not finish in time; see {log_path}")
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.exit(f"layerbench: {a.workload} exited with {rc}; see {log_path}")
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        d_att, d_fail, d_names = duckdb_checks(a.workload, work)
        result["attempted"] += d_att
        result["failed"] += d_fail
        result["failures"] += [f"duckdb.{n}" for n in d_names]
        with open(os.path.join(bdir, f"last_result_{a.workload}.json"), "w") as f:
            json.dump(result, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(bdir, f"last_trace_{a.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = result["layers"] if a.trace else result["e2e"]
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            sys.exit(f"layerbench: metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in result["failures"]:
        print(f"[layerbench] failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
