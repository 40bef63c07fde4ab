"""Selects the rows of `batch_rows` and `rounds` and computes their expected
answers once, with DuckDB over `SparkEntry.oracleSql` on the committed sf0.1
tables, in tools/check.py's canonical form.

    python3 perfbench/oracle.py

Rewrites the `rows` and `modules` of perfbench/workloads.json and the files
under perfbench/expected/. Run it again only when the row set changes.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import build  # noqa: E402
from canon import canon, frames_equal  # noqa: E402
from run import MODULES  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Rows sequenced in rounds from the client: beam/closure/graph rounds, and
# streaming drains.
ROUND_ROWS = re.compile(r"q_(closure_scale|dedup_clusters.*|geo_clusters|graph_.*|"
                        r"knn_graph.*|pagerank|path_topk|triangles)$")
DRAIN_ROWS = re.compile(r"q_(stream_.*|curate_stream)$")

# graft package of each object SparkEntry calls (imports and qualified names)
PACKAGE_OF = {
    "Relational": "analytics", "Stats": "analytics",
    "ExactDedup": "dedup", "MinHashLsh": "dedup", "NGramJaccard": "dedup",
    "SimHash": "dedup", "Cleaning": "etl", "Geo": "etl", "Multimodal": "multimodal",
    "EmbeddingDedup": "similarity", "Knn": "similarity", "LshKnn": "similarity",
    "BatchSink": "sources", "EventStreams": "streaming", "Fingerprint": "text",
    "TextAnalysis": "text",
}


# The graph rows' oracles score each candidate pair with a correlated
# subquery over generate_series(1, D). DuckDB decorrelates it into a
# pairs x D join that does not fit in memory or disk at sf0.1 (measured:
# > 11 GB for 2,000 embeddings). The same sum written as a list expression
# gives the same value per pair and runs in seconds.
PAIR_DIST = re.compile(
    r"\(SELECT sum\(\((\w+)\.(\w+)\[i\.d\] - (\w+)\.(\w+)\[i\.d\]\) \* "
    r"\(\1\.\2\[i\.d\] - \3\.\4\[i\.d\]\)\) "
    r"FROM \(SELECT unnest\(generate_series\(1, (\d+)\)\) AS d\) i\)")


def inline_pair_dist(sql):
    return PAIR_DIST.sub(
        lambda m: "list_sum(list_transform(generate_series(1, {4}), i_d -> "
                  "({0}.{1}[i_d] - {2}.{3}[i_d]) * ({0}.{1}[i_d] - {2}.{3}[i_d])))"
        .format(*m.groups()), sql)


def select(names, cfg, module):
    """Every k-th batch row in name order, from the first; every m-th round
    row and drain in name order, from the `first`-th (0-based). Then, for
    each module of the per-module metrics that no selected row maps to, the
    first batch row in name order that maps to it."""
    batch = [n for n in names if not ROUND_ROWS.match(n) and not DRAIN_ROWS.match(n)]
    rounds = [n for n in names if ROUND_ROWS.match(n) or DRAIN_ROWS.match(n)]
    picked = batch[::cfg["batch_rows"]["k"]]
    rounds = rounds[cfg["rounds"]["first"]::cfg["rounds"]["m"]]
    covered = {module(n) for n in picked + rounds}
    for mod in MODULES:
        first = next((n for n in batch if module(n) == mod), None)
        if mod not in covered and first:
            picked.append(first)
    return sorted(picked), rounds


def row_blocks(src):
    """Source text of each `queries` entry."""
    body = src[src.index("def queries:"):src.index("def oracleSql")]
    starts = [(m.group(1), m.start()) for m in re.finditer(r'^    "(q_[a-z0-9_]+)" ->', body, re.M)]
    return {n: body[s:(starts[i + 1][1] if i + 1 < len(starts) else len(body))]
            for i, (n, s) in enumerate(starts)}


def module_of(block):
    """The package of the first graft object a row's code names, skipping the
    DedupData test-data helper; `plans` for pure DataFrame rows."""
    for m in re.finditer(r"\bgraft\.([a-z]+)\.([A-Za-z]+)|\b([A-Z][A-Za-z]+)\.", block):
        if "DedupData" in (m.group(2), m.group(3)):
            continue
        pkg = m.group(1) or PACKAGE_OF.get(m.group(3))
        if pkg:
            return pkg
    return "plans"


def connect(sf_dir, build_dir):
    import duckdb
    con = duckdb.connect()
    tmp = os.path.join(build_dir, "duckdb_tmp")
    con.execute(f"SET memory_limit='5GB'; SET threads=4; SET temp_directory='{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main():
    cfg_path = os.path.join(HERE, "workloads.json")
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build.build(build_dir)
    dump = os.path.join(build_dir, "oracle_sql.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp),
                    "graft.perfbench.DumpOracle", dump], check=True)
    with open(dump) as fh:
        d = json.load(fh)
    with open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")) as fh:
        blocks = row_blocks(fh.read())

    def module(n):
        return "streaming" if DRAIN_ROWS.match(n) else module_of(blocks[n])

    batch, rounds = select(d["queries"], cfg, module)
    cfg["batch_rows"]["rows"] = batch
    cfg["rounds"]["rows"] = rounds
    # keep the etl_csv steps' entries; re-derive the rows'
    cfg["modules"] = {n: m for n, m in cfg["modules"].items() if n not in blocks}
    cfg["modules"].update({n: module(n) for n in batch + rounds})

    con = connect(os.path.join(HERE, "data", cfg["sf"]), build_dir)
    small = connect(os.path.join(HERE, "data", cfg["warm_sf"]), build_dir)
    out = os.path.join(HERE, "expected")
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(out):
        os.remove(os.path.join(out, f))
    for n in batch + rounds:
        sql = d["oracle_sql"][n]
        if inline_pair_dist(sql) != sql:  # the rewrite must not change answers
            assert frames_equal(canon(small.sql(sql).df()),
                                canon(small.sql(inline_pair_dist(sql)).df())) is None, n
        exp = canon(con.sql(inline_pair_dist(d["oracle_sql"][n])).df())
        exp.to_parquet(os.path.join(out, f"{n}.parquet"), index=False, compression="zstd")
        print(f"{n}: {len(exp)} rows, module {cfg['modules'][n]}")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh, indent=2, ensure_ascii=False)
        fh.write("\n")


if __name__ == "__main__":
    main()
