#!/usr/bin/env python3
"""AQP benchmark: exact vs sampled runtime and error of the graft engine.

Usage (from the repository root):

    python3 aqpbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: wordcount-ladder, curation-catalog (see
aqpbench/README.md). The first run in a checkout compiles the engine and the
harness with sbt (offline) into aqpbench/target; later runs reuse the build
while the sources are unchanged. The engine runs in one JVM under
local[N], N = the host's cores. The last stdout line is the result JSON:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Artifacts (per-run JSON
with phase samples, spans, layer split and the sampling curve) and the
engine log go to .bench_out/. Per-run data lives in .bench_work/ and is
removed when the run ends.

Test-only flags: --tiny 1 (small inputs), --corrupt-expected 1 (perturb one
expected answer; the run must then report failed operations).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("wordcount-ladder", "curation-catalog")
JVM_TIMEOUT_S = 160

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"aqpbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, BENCH):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "aqpbench.stamp")
    cp_file = os.path.join(BUILD, "aqpbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fs, open(cp_file) as fc:
            if fs.read() == stamp:
                return fc.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", TMPDIR=tmp)
    # temporary files and JVM perf data stay inside the checkout
    env["SBT_OPTS"] = (os.environ.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
                       + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    log = os.path.join(BUILD, "aqpbench-build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=840)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if os.pathsep in l and l.strip().endswith(".jar")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


VOCAB = ("key agg row scan slow fast table value part hash merge batch the a line sort window "
         "order data column join small big query spark customer stream group filter vector "
         "index shard token doc page word text clean dedup cluster pair score rank sample "
         "ratio error bound level stage task plan node edge graph label round loop cache").split()


def gen_catalog(tiny, seed=42):
    """The catalog's `documents` and `lineitem` tables, TPC-H-like columns,
    written with DuckDB once per checkout and size; returns their directory.
    Values come from hash(seed, row, field). The tables are the same in
    every run, like a fixed catalog; the run seed only permutes the query
    order, so each query's answer and sampling error repeat exactly from run
    to run."""
    data = os.path.join(BUILD, "catalog-tiny" if tiny else "catalog")
    if os.path.isdir(data):
        return data
    tmp = data + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_catalog(tmp, tiny, seed)
    os.rename(tmp, data)
    return data


def write_catalog(data, tiny, seed):
    import duckdb
    n_docs, n_li, files = (120, 20000, 16) if tiny else (150, 100000, 64)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    s = int(seed)
    os.makedirs(f"{data}/documents.parquet")
    con.execute(f"""COPY (
        SELECT i::BIGINT AS doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
          SELECT i,
            array_to_string(list_transform(range(8 + (hash({s}, i, 0) % 72)::BIGINT),
              j -> {vocab}[1 + (hash({s}, i, j + 1) % {len(VOCAB)})::BIGINT]), ' ') AS text,
            ['en', 'de', 'fr', 'es', 'zh'][1 + (hash({s}, i, -1) % 5)::BIGINT] AS lang,
            'src' || (hash({s}, i, -2) % 20)::VARCHAR AS source
          FROM range({n_docs}) t(i))
        ORDER BY doc_id) TO '{data}/documents.parquet/part-00000.parquet' (FORMAT PARQUET)""")
    os.makedirs(f"{data}/lineitem.parquet")
    for f in range(files):
        lo, hi = f * n_li // files, (f + 1) * n_li // files
        con.execute(f"""COPY (
            SELECT (i // 4)::BIGINT AS l_orderkey,
              (hash({s}, i, 1) % 20000)::BIGINT AS l_partkey,
              (hash({s}, i, 2) % 1000)::BIGINT AS l_suppkey,
              (i % 4 + 1)::INTEGER AS l_linenumber,
              (1 + hash({s}, i, 3) % 50)::DOUBLE AS l_quantity,
              round(900 + (hash({s}, i, 4) % 10410000)::DOUBLE / 100.0, 2) AS l_extendedprice,
              (hash({s}, i, 5) % 11)::DOUBLE / 100.0 AS l_discount,
              (hash({s}, i, 6) % 9)::DOUBLE / 100.0 AS l_tax,
              ['A', 'N', 'R'][1 + (hash({s}, i, 7) % 3)::BIGINT] AS l_returnflag,
              ['O', 'F'][1 + (hash({s}, i, 8) % 2)::BIGINT] AS l_linestatus,
              TIMESTAMP '1995-01-02' + to_days(CAST(hash({s}, i, 9) % 2497 AS INTEGER)) AS l_shipdate
            FROM range({lo}, {hi}) t(i) ORDER BY i
          ) TO '{data}/lineitem.parquet/part-{f:05d}.parquet' (FORMAT PARQUET)""")


def oracle_check(work, data, corrupt):
    """DuckDB replay of every saved catalog result, compared the way the
    engine's oracle gate compares (columns by name, rows sorted, values as
    strings). The tables are fixed, so DuckDB's answers are computed once
    per checkout and kept beside them. Returns {query: executions} of the
    mismatches."""
    import duckdb
    import pandas
    with open(os.path.join(work, "oracle.json")) as fh:
        entries = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet/*.parquet'")
    bad = {}
    for e in entries:
        key = hashlib.sha256("\n".join([e["sql"]] + e["lineitem"]).encode()).hexdigest()[:24]
        cached = os.path.join(data, "oracle", key + ".pkl")
        if os.path.exists(cached):
            exp = pandas.read_pickle(cached)
        else:
            files = ", ".join(f"'{f}'" for f in e["lineitem"])
            con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM read_parquet([{files}])")
            exp = con.sql(e["sql"]).df()
            os.makedirs(os.path.dirname(cached), exist_ok=True)
            exp.to_pickle(cached + ".tmp")
            os.rename(cached + ".tmp", cached)
        got = con.sql(f"SELECT * FROM '{e['dir']}/*.parquet'").df()
        if corrupt and e["name"] == "tpch_q1" and len(exp):
            exp = exp.copy()
            exp.iloc[0, list(exp.columns).index("cnt")] += 1
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        ok = list(got.columns) == list(exp.columns) and len(got) == len(exp)
        if ok:
            cols = list(got.columns)
            g = got.sort_values(by=cols).reset_index(drop=True).astype(str)
            x = exp.sort_values(by=cols).reset_index(drop=True).astype(str)
            ok = g.equals(x)
        if not ok:
            print(f"aqpbench: oracle mismatch on {e['name']}", file=sys.stderr)
            bad[e["name"]] = int(e["executions"])
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    try:
        t0 = time.time()
        data = gen_catalog(a.tiny) if a.workload == "curation-catalog" else os.path.join(work, "data")
        t1 = time.time()
        cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "aqpbench.BenchMain",
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work, "--data", data, "--out", OUT,
                  "--tiny", str(a.tiny), "--corrupt-expected", str(a.corrupt_expected)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=os.path.join(work, "tmp"))
        log = os.path.join(OUT, f"{tag}.log")
        with open(log, "w") as fh:
            try:
                p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=fh,
                                   text=True, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"engine run exceeded {JVM_TIMEOUT_S}s (log: {log})")
        out = p.stdout.strip().splitlines()
        if p.returncode != 0 or not out or not out[-1].startswith("{"):
            fail(f"engine run failed with code {p.returncode} (log: {log})")
        for line in out[:-1]:
            print(line)
        result = json.loads(out[-1])
        t2 = time.time()
        if a.workload == "curation-catalog":
            bad = oracle_check(work, data, a.corrupt_expected)
            result["failed"] += sum(bad.values())
            result["correct"] = result["correct"] and not bad
        print(f"aqpbench: inputs {t1 - t0:.1f}s, engine {t2 - t1:.1f}s, oracle {time.time() - t2:.1f}s",
              file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
