#!/usr/bin/env python3
"""graftbench: the engine's end-to-end benchmark.

    python3 graftbench/run.py --workload serve_code|edit_sync|graph_batch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into the checkout; later runs reuse
the build while the sources are unchanged. Each run then makes its inputs
from the seed, starts one JVM (a local[nproc] Spark session), measures for
S seconds, checks every output, prints its figures one per line, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1, the
per-layer ones, from a run that also records spans and Spark listener
windows; its spans are kept in .bench_build/spans-<workload>-<seed>.jsonl.
A wrong output makes the run exit 1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_code", "edit_sync", "graph_batch")

# The code workloads' input: these packages of the Spark distribution's
# own pyspark sources, tests excluded. Fixed bytes, pinned by digest, so
# every commit ingests the same tree; the seed picks requests and edits.
TREE_PACKAGES = ("ml",)
TREE_DIGEST = "dc7e3b58e45bacc81a5ba75787a280eca53b2ce26ac805059ab1a9aab0efb502"

JVM_TIMEOUT_S = 160


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    stamp = os.path.join(BUILD, "fingerprint")
    runtime = os.path.join(BUILD, "runtime.txt")
    fp = fingerprint()
    if not (os.path.exists(runtime) and os.path.exists(stamp)
            and open(stamp).read() == fp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx3g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeRuntime"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0:
            die(f"build failed (exit {rc}); see {log}")
        with open(stamp, "w") as fh:
            fh.write(fp)
    conf = dict(line.rstrip("\n").split("=", 1) for line in open(runtime) if "=" in line)
    return conf["classpath"], conf["spark_home"]


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, fs in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def make_tree(spark_home, dest):
    """Copy the pinned pyspark packages (no tests, .py only) and check them."""
    src = os.path.join(spark_home, "python", "pyspark")
    for pkg in TREE_PACKAGES:
        for d, dirs, fs in os.walk(os.path.join(src, pkg)):
            dirs[:] = sorted(x for x in dirs if x not in ("tests", "__pycache__"))
            for f in sorted(fs):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    q = os.path.join(dest, os.path.relpath(p, src))
                    os.makedirs(os.path.dirname(q), exist_ok=True)
                    shutil.copyfile(p, q)
    got = tree_digest(dest)
    if TREE_DIGEST is not None and got != TREE_DIGEST:
        die(f"input tree digest {got} != pinned {TREE_DIGEST}")
    return got


# TPC-H-shaped fixture for graph_batch: the tables CodeGraph derives its
# graph from, at a fixed size, with keys and references drawn from the seed.
GRAPH_SIZES = dict(customer=300, supplier=20, part=400, orders=3000)


def make_graph(seed, dest):
    import duckdb
    import pandas as pd
    rnd = random.Random(seed)
    n = GRAPH_SIZES
    ts = pd.Timestamp("1995-01-01")
    tables = {
        "region": pd.DataFrame({"r_regionkey": range(5),
                                "r_name": [f"REGION{i}" for i in range(5)]}),
        "nation": pd.DataFrame({"n_nationkey": range(25),
                                "n_name": [f"NATION{i}" for i in range(25)],
                                "n_regionkey": [i % 5 for i in range(25)]}),
        "customer": pd.DataFrame({
            "c_custkey": range(1, n["customer"] + 1),
            "c_name": [f"Customer#{i}" for i in range(1, n["customer"] + 1)],
            "c_nationkey": [rnd.randrange(25) for _ in range(n["customer"])],
            "c_acctbal": [round(rnd.uniform(0, 9999), 2) for _ in range(n["customer"])],
            "c_mktsegment": [rnd.choice(["AUTO", "BUILD", "MACH"]) for _ in range(n["customer"])]}),
        "supplier": pd.DataFrame({
            "s_suppkey": range(1, n["supplier"] + 1),
            "s_name": [f"Supplier#{i}" for i in range(1, n["supplier"] + 1)],
            "s_nationkey": [rnd.randrange(25) for _ in range(n["supplier"])],
            "s_acctbal": [round(rnd.uniform(0, 9999), 2) for _ in range(n["supplier"])]}),
        "part": pd.DataFrame({
            "p_partkey": range(1, n["part"] + 1),
            "p_name": [f"part {i}" for i in range(1, n["part"] + 1)],
            "p_brand": [f"Brand#{rnd.randrange(1, 6)}{rnd.randrange(1, 6)}" for _ in range(n["part"])],
            "p_type": [rnd.choice(["STEEL", "BRASS", "TIN"]) for _ in range(n["part"])],
            "p_size": [rnd.randrange(1, 51) for _ in range(n["part"])],
            "p_retailprice": [round(rnd.uniform(900, 2000), 2) for _ in range(n["part"])]}),
    }
    orders, lines = [], []
    for ok in range(n["orders"]):
        orders.append((ok, rnd.randrange(1, n["customer"] + 1),
                       rnd.choice("FOP"), round(rnd.uniform(1000, 400000), 2),
                       ts + pd.Timedelta(days=rnd.randrange(2400)),
                       rnd.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])))
        for ln in range(1, rnd.randrange(1, 8) + 1):
            lines.append((ok, rnd.randrange(1, n["part"] + 1), rnd.randrange(1, n["supplier"] + 1),
                          ln, float(rnd.randrange(1, 51)), round(rnd.uniform(900, 100000), 2),
                          rnd.randrange(11) / 100, rnd.randrange(9) / 100, rnd.choice("ANR"),
                          rnd.choice("FO"), ts + pd.Timedelta(days=rnd.randrange(2500))))
    tables["orders"] = pd.DataFrame(orders, columns=[
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"])
    tables["lineitem"] = pd.DataFrame(lines, columns=[
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"])
    ints = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey", "s_nationkey",
            "p_size", "l_linenumber"}
    con = duckdb.connect()
    os.makedirs(dest, exist_ok=True)
    for name, df in tables.items():
        con.register("src", df)
        cols = ", ".join(
            f"CAST({c} AS INTEGER) AS {c}" if c in ints else
            f"CAST({c} AS BIGINT) AS {c}" if df[c].dtype.kind == "i" else
            f"CAST({c} AS TIMESTAMP) AS {c}" if df[c].dtype.kind == "M" else c
            for c in df.columns)
        con.execute(f"COPY (SELECT {cols} FROM src) TO '{dest}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("src")
    con.close()


def oracle_check(input_dir, out_dir):
    """Each entry's dumped output against its DuckDB oracle SQL, compared
    as sorted rows over sorted columns. Returns (failed runs, messages).
    """
    import duckdb
    import pandas as pd
    oracles = json.load(open(os.path.join(out_dir, "oracles.json")))
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df) and len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        return df.reset_index(drop=True)

    failed, msgs = 0, []
    for name, o in sorted(oracles.items()):
        try:
            want = canon(con.execute(o["sql"]).df())
            got = canon(con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            if list(want.columns) != list(got.columns):
                raise AssertionError(f"columns {list(got.columns)} != {list(want.columns)}")
            if len(want) != len(got):
                raise AssertionError(f"{len(got)} rows != {len(want)}")
            pd.testing.assert_frame_equal(want, got, check_dtype=False, check_exact=True)
        except Exception as e:  # a mismatch or an oracle error both fail the entry
            failed += max(1, o["runs"])
            msgs.append(f"oracle {name}: {str(e).splitlines()[-1][:300]}")
    con.close()
    return failed, msgs


def java_cmd(classpath, scratch):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # C1 only: a run lives about a minute, and on a few cores C2's
    # background compiles compete with Spark's tasks for most of it, so
    # the figures would follow the compiler's progress, not the engine.
    # With C1 the JVM reaches its steady code within the warm-up.
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graftbench.Main"]


def main():
    ap = argparse.ArgumentParser(description="graftbench: the engine's end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seed < 0 or a.seconds < 1:
        die("--seed must be >= 0 and --seconds >= 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no engine sources under {ROOT}; run from the root of a checkout")

    classpath, spark_home = build()
    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    work, inp = os.path.join(run, "work"), os.path.join(run, "input")
    tmp = os.path.join(run, "tmp")
    for d in (work, inp, tmp):
        os.makedirs(d)
    try:
        if a.workload == "graph_batch":
            make_graph(a.seed, inp)
        else:
            print(f"input tree digest: {make_tree(spark_home, os.path.join(inp, 'tree'))}")
        out = os.path.join(run, "result.json")
        log = os.path.join(run, "jvm.log")
        with open(log, "w") as fh:
            try:
                rc = subprocess.run(
                    java_cmd(classpath, tmp) + [
                        "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", work, "--input", inp, "--out", out],
                    cwd=run, stdout=fh, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-4000:])
            die(f"benchmark JVM failed ({rc})")
        res = json.load(open(out))
        if a.trace:
            spans = os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
            print(f"spans: {os.path.relpath(spans, ROOT)}")
        failures = list(res["failures"])
        failed = res["failed"]
        if a.workload == "graph_batch":
            f, msgs = oracle_check(inp, os.path.join(work, "outputs"))
            failed += f
            failures += msgs
        attempted = max(1, res["attempted"])
        failed = min(failed, attempted)  # an entry that raised also fails its oracle
        for line in res["lines"]:
            print(line)
        print(f"{'failed_ratio':<40} {failed / attempted:>14} ratio  "
              f"{failed} of {attempted} operations")
        for msg in failures:
            print(f"FAILED: {msg}")
        metrics = res["per_layer"] if a.trace else res["end_to_end"]
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
