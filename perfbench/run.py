#!/usr/bin/env python3
"""Benchmark of the graft Spark dedup engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine together
with the JVM harness (`perfbench/build.sbt`, offline sbt) and reuses the
build while the sources are unchanged. Each run starts one `local[4]` JVM,
sets the workload up from `--seed`, warms it up,
times iterations for `--seconds`, checks every output, and prints the
metrics: end-to-end with `--trace 0`, per-layer with `--trace 1`. The last
line of stdout is one JSON object {correct, attempted, failed, metrics}.
Workloads, metrics and the layer map are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import oracle, stats, tables  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
HEAP = "2g"

# every declared query, in SparkEntry.queries; the trace times each once
ALL_QUERIES = sorted("""canonical_election exact_dup_groups q1_agg q_ann_top1
q_anti_join q_bloom_prejoin q_containment_pairs q_csv_report q_daily_report
q_dedup_pipeline q_doc_pipeline q_dup_clusters q_embed_neardup_pairs
q_embed_top1 q_filter_pushdown q_fingerprint q_image_features q_jaccard_pairs
q_join_agg q_key_matrix q_lang_id q_latest_event q_minhash_lsh_pairs
q_quality_score q_semi_join q_simhash_pairs q_token_stats q_ttl_filter
q_zip_join""".split())

# `warmup`: warm-up iterations, the cold one included. Every run is a fresh
# JVM, so each one adds a whole iteration to every run (~8 s for flagship,
# ~5 s for a pass of ops_queries), and a full measurement of both workloads,
# dozens of runs, must stay under an hour.
WORKLOADS = {
    # Dedup.run over Corpus.generate(clusters, skew copies): the hot caption
    # block makes caption-LSH verify ~skew²/2 pairs and CC a dense graph
    "flagship": {"clusters": 400, "skew": 150, "warmup": 1},
    # one pass over declared queries that reach every ops module: DocOps
    # (MinHash-LSH near-dup pairs), EmbeddingOps, ImageOps; `reads` is the
    # input each one scans (`image_corpus`: the corpus q_image_features
    # memoizes)
    "ops_queries": {"warmup": 2,
                    "reads": {"q_minhash_lsh_pairs": "documents", "q_ann_top1": "embeddings",
                              "q_image_features": "image_corpus"}},
}

END_TO_END = [("setup_s", "s"), ("run_s_p50", "s"), ("rows_per_s", "1/s"),
              ("pair_recall", "ratio"), ("pair_precision", "ratio"),
              ("ok_ops_ratio", "ratio"), ("peak_rss_mb", "MB")]

SOURCES = ["exact", "caption_lsh", "phash_hamming", "containment"]


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    m = [("driver.jobs", "count"), ("driver.job_gap_s", "s"), ("driver.task_s", "s"),
         ("driver.traced_run_s", "s"), ("driver.trace_overhead_s", "s"),
         ("gen.corpus_s", "s"),
         ("keys.featurize.wall_s", "s"), ("keys.featurize.jobs", "count"),
         ("keys.featurize.rows_out", "count")]
    for s in SOURCES:
        m += [(f"candidates.{s}.wall_s", "s"), (f"candidates.{s}.jobs", "count"),
              (f"candidates.{s}.task_s", "s"), (f"candidates.{s}.shuffle_bytes", "B"),
              (f"candidates.{s}.edges_out", "count")]
    m += [("candidates.salted_buckets", "count"), ("candidates.distinct_edge_ratio", "ratio"),
          ("cluster.wall_s", "s"), ("cluster.jobs", "count"), ("cluster.task_s", "s"),
          ("cluster.shuffle_bytes", "B"), ("cluster.edges_in", "count"),
          ("cluster.rounds", "count"),
          ("resolve.wall_s", "s"), ("resolve.jobs", "count"), ("resolve.rows_out", "count"),
          ("state.hash_lookup.wall_s", "s"), ("state.hash_merge.wall_s", "s"),
          ("state.commit.wall_s", "s"), ("state.bytes_written", "B"),
          ("state.cache_hit_ratio", "ratio"),
          ("state.checkpointed_run.wall_s", "s"), ("state.checkpointed_run.jobs", "count"),
          ("state.resume.wall_s", "s"), ("state.resume.jobs", "count")]
    for q in ALL_QUERIES:
        m += [(f"ops.{q}.wall_s", "s"), (f"ops.{q}.jobs", "count")]
    m += [("util.persisted_rdds_after_run", "count"),
          ("util.seal_barrier_violations", "count"), ("util.seal_leak_warnings", "count")]
    return m


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    stamp_file = os.path.join(HERE, "target", "build-stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                             "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read()


def java_cmd(classpath, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Harness"]


def run_harness(classpath, work, args, cfg, extra, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(classpath, work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--warmup", str(cfg["warmup"])]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded the run limit; see {log}")
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        fail(f"harness wrote no result (exit {p.returncode}); see {log}")
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def read_parquet(path, columns=None):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=columns).to_pandas()


def ops_of(result):
    """[(phase, iteration index, op name, record)] in run order."""
    return [(it["phase"], it["index"], name, rec)
            for it in result["iterations"] for name, rec in it["ops"].items()]


def timed_walls(result):
    """Wall of each timed iteration (sum of its ops), skipping failed ones."""
    walls = []
    for it in result["iterations"]:
        if it["phase"] == "timed" and all("s" in r for r in it["ops"].values()):
            walls.append(sum(r["s"] for r in it["ops"].values()))
    return walls


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def op(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def actions_rows(path):
    df = read_parquet(path, ["image_id", "role", "cluster_id", "disposition", "target"])
    return sorted(map(tuple, df.astype(str).itertuples(index=False)))


def same_bytes(dirs):
    """True when every directory holds the same parquet parts, byte for byte."""
    def parts(d):
        out = []
        for p in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(p, "rb") as f:
                out.append(f.read())
        return out
    first = parts(dirs[0])
    return bool(first) and all(parts(d) == first for d in dirs[1:])


def check_flagship(result, work, traced, checks):
    # the set-up repeats generated the corpus from one seed each time
    checks.op(same_bytes(result["info"]["corpora"]), "set-up repeats wrote different corpora")
    truth = read_parquet(result["info"]["corpus"], ["image_id", "truth_cluster"])
    truth = dict(zip(truth.image_id, truth.truth_cluster))
    scores, first = [], None
    for _, idx, name, rec in ops_of(result):
        if "error" in rec:
            checks.op(False, f"{name}_{idx}: {rec['error']}")
            continue
        out = read_parquet(os.path.join(work, "out", f"{name}_{idx}"),
                           ["image_id", "cluster_id", "disposition"])
        disp = out.disposition.value_counts().to_dict()
        first = first or disp
        r, p = stats.pair_scores(zip(out.cluster_id, out.image_id.map(truth)))
        scores.append((r, p))
        checks.op(r >= 0.99 and p >= 0.99 and disp == first and len(out) == len(truth),
                  f"{name}_{idx}: recall {r:.4f} precision {p:.4f} dispositions {disp}")
    if traced:
        # the checkpointed pipeline must agree with Dedup.run, and its resume
        # must return the same actions
        base = actions_rows(os.path.join(work, "out", "run_1"))
        for name in ("checkpointed_run", "checkpointed_resume"):
            path = os.path.join(work, "out", name)
            checks.op(os.path.exists(path) and actions_rows(path) == base,
                      f"{name} differs from Dedup.run")
    return scores


def check_queries(result, work, seed, checks):
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = oracle.connect(os.path.join(work, "tables"))
    truth = tables.planted_doc_clusters(seed)
    expected, scores, first_features = {}, [], None
    for _, idx, q, rec in ops_of(result):
        if "error" in rec:
            checks.op(False, f"{q}_{idx}: {rec['error']}")
            continue
        path = os.path.join(out, f"{q}_{idx}")
        why = oracle.compare(con, sql[q], path, expected) if q in sql else None
        if q == "q_minhash_lsh_pairs" and why is None:
            # the clusters the near-dup pairs form, against the planted ones
            got = read_parquet(path, ["doc1", "doc2"])
            comp = stats.components(truth, zip(got.doc1, got.doc2))
            r, p = stats.pair_scores((comp[d], t) for d, t in truth.items())
            scores.append((r, p))
            if r < 0.99 or p < 0.99:
                why = f"recall {r:.4f} precision {p:.4f}"
        if q == "q_image_features":
            # no oracle: one row per corpus image, byte-identical in every
            # iteration
            rows = len(read_parquet(path, ["image_id"]))
            first_features = first_features or path
            if rows != result["info"]["image_rows"] or not same_bytes([first_features, path]):
                why = f"{rows} rows, or bytes differing from {os.path.basename(first_features)}"
        checks.op(why is None, f"{q}_{idx}: {why}")
    return scores


# ---------------------------------------------------------------- metrics

# windows every traced run of a workload must have recorded
TRACE_WINDOWS = {
    "flagship": ["run", "keys.featurize", "cluster", "resolve"]
    + [f"candidates.{s}" for s in SOURCES]
    + [f"state.{k}" for k in ("hash_lookup", "hash_merge", "commit", "checkpointed_run",
                              "resume")],
    "ops_queries": ["run", "cluster"] + [f"ops.{q}" for q in ALL_QUERIES],
}


def layer_metrics(result, run_s_p50, gen_s):
    tr = result["trace"]
    jobs = [j for j in tr["jobs"] if j["end_ms"] >= 0]
    counts = tr["counts"]
    m = {name: 0.0 for name, _ in per_layer_names()}

    def window(prefix, key, with_tasks=False):
        if key not in tr["windows"]:
            return
        lo, hi = tr["windows"][key]
        inside = [j for j in jobs if lo <= j["start_ms"] <= hi]
        m[f"{prefix}.wall_s"] = (hi - lo) / 1000
        m[f"{prefix}.jobs"] = len(inside)
        if with_tasks:
            m[f"{prefix}.task_s"] = sum(j["task_s"] for j in inside)
            m[f"{prefix}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in inside)
        return inside, lo, hi

    found = window("driver", "run", with_tasks=True)
    if found:
        inside, lo, hi = found
        m["driver.job_gap_s"] = stats.job_gap(
            [(j["start_ms"], j["end_ms"]) for j in inside], lo, hi) / 1000
        m["driver.traced_run_s"] = m.pop("driver.wall_s")
        m["driver.trace_overhead_s"] = m["driver.traced_run_s"] - run_s_p50
        m.pop("driver.shuffle_bytes")
    window("keys.featurize", "keys.featurize")
    for s in SOURCES:
        window(f"candidates.{s}", f"candidates.{s}", with_tasks=True)
    window("cluster", "cluster", with_tasks=True)
    window("resolve", "resolve")
    for k in ("hash_lookup", "hash_merge", "commit", "checkpointed_run", "resume"):
        window(f"state.{k}", f"state.{k}")
    for q in ALL_QUERIES:
        window(f"ops.{q}", f"ops.{q}")
    for name in m:
        if name in counts:
            m[name] = counts[name]
    emitted = counts.get("candidates.emitted_edges", 0)
    if emitted:
        m["candidates.distinct_edge_ratio"] = counts["candidates.distinct_edges"] / emitted
    m["gen.corpus_s"] = gen_s
    names = [n for n, _ in per_layer_names()]
    return {n: m[n] for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    classpath = build()
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S
    cfg = WORKLOADS[args.workload]
    work = os.path.join(BUILD_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    try:
        report = measure(args, cfg, classpath, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))


def measure(args, cfg, classpath, work, deadline):
    checks = Checks()
    tables_s = 0.0
    if args.workload == "ops_queries":
        # the benchmark's own input generation: outside every metric
        t0 = time.perf_counter()
        table_rows = tables.write(os.path.join(work, "tables"), args.seed)
        tables_s = time.perf_counter() - t0
        extra = {"tables": os.path.join(work, "tables"), "queries": ",".join(cfg["reads"]),
                 "trace_queries": ",".join(ALL_QUERIES)}
    else:
        extra = {"clusters": cfg["clusters"], "skew": cfg["skew"]}
    t0 = time.monotonic()
    result = run_harness(classpath, work, args, cfg, extra, deadline)
    t1 = time.monotonic()
    if "iterations" not in result or (args.trace and "trace" not in result):
        fail(f"harness stopped early; see {work}/harness.log")
    if args.workload == "flagship":
        scores = check_flagship(result, work, args.trace, checks)
        n_rows = result["info"]["images"]
    else:
        scores = check_queries(result, work, args.seed, checks)
        table_rows["image_corpus"] = result["info"]["image_rows"]
        n_rows = sum(table_rows[t] for t in cfg["reads"].values())
    gen_s = stats.median(result["setup_repeats_s"])
    if args.trace:
        windows = result["trace"]["windows"]
        for w in TRACE_WINDOWS[args.workload]:
            checks.op(w in windows, f"traced run recorded no {w} window")
    t2 = time.monotonic()
    walls = timed_walls(result)
    if not walls:
        fail("no successful timed iteration")
    run_s = stats.median(walls)
    # set-up: data preparation (median of its repeats) plus the cold first
    # iteration; later warm-up iterations land in no metric
    cold = sum(r.get("s", 0) for r in result["iterations"][0]["ops"].values())
    e2e = {
        "setup_s": gen_s + cold,
        "run_s_p50": run_s,
        "rows_per_s": n_rows / run_s,
        # no score at all means every scored output failed its check
        "pair_recall": stats.median([r for r, _ in scores]) if scores else 0.0,
        "pair_precision": stats.median([p for _, p in scores]) if scores else 0.0,
        "ok_ops_ratio": 1 - checks.failed / max(1, checks.attempted),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    tail = stats.tail_percentile(walls)
    # human-readable report: every metric by name and unit, then the
    # per-iteration walls with the box's steal/idle over each op
    print(f"workload {args.workload} seed {args.seed}: {len(walls)} timed iterations"
          f" in {result['timed_total_s']:.1f} s; setup repeats "
          f"{[round(x, 3) for x in result['setup_repeats_s']]}; input tables {tables_s:.2f} s;"
          f" warm-up {result['warmup_total_s']:.2f} s; JVM {t1 - t0:.1f} s, checks {t2 - t1:.1f} s")
    for name, unit in END_TO_END:
        note = f" (n={len(walls)})" if name == "run_s_p50" else ""
        print(f"  {name:<16} {e2e[name]:.6g} {unit}{note}")
    print(f"  run_s tail: " + (f"p{tail[0]} = {tail[1]:.4f} s" if tail else
                               f"none (n={len(walls)}, a tail needs 10 samples beyond it)"))
    for phase, idx, name, rec in ops_of(result):
        if "s" in rec:
            print(f"  {phase:<7} {idx:>3} {name:<20} {rec['s']:8.3f} s"
                  f"  steal {rec['steal']:.3f}  idle {rec['idle']:.3f}")
        else:
            print(f"  {phase:<7} {idx:>3} {name:<20} FAILED {rec['error']}")
    for note in checks.notes:
        print(f"  check failed: {note}")
    metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    if args.trace:
        layers = layer_metrics(result, run_s, gen_s)
        units = dict(per_layer_names())
        for n, v in layers.items():
            print(f"  {n:<40} {v:.6g} {units[n]}")
        metrics = {n: {"value": v, "unit": units[n]} for n, v in layers.items()}
    diag = os.path.join(BUILD_DIR, "results")
    os.makedirs(diag, exist_ok=True)
    with open(os.path.join(diag, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({"e2e": e2e, "checks": checks.notes, "raw": result}, f)
    return {"correct": checks.failed == 0, "attempted": checks.attempted,
            "failed": checks.failed, "metrics": metrics}


if __name__ == "__main__":
    main()
