"""``corpus_ops``: a fixed mix of extension operators over a generated corpus.

Closed loop of passes over ``MIX``; the workload seed only permutes the
order. Each operator is called through its ``queries()`` entry, collected,
and its rows' digest compared with the stored digest of its DuckDB twin
(``oracle_sql()``) on the same corpus. After each operator the cache and the
operators' persisted intermediates are released, as ``bench.py`` releases
them, so no operator reads another's intermediates.

The corpus has the shape of the sf0.1 testdata (a 30-word vocabulary,
10-100 word documents, 5% near-duplicates marked by a trailing " dup",
64-dimensional unit embeddings in ten clusters). It is generated from a
fixed seed, so the stored digests stay valid; regenerate them with

    python3 perfbench/corpus.py --write-digests
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import sys
import time
from datetime import date, datetime
from decimal import Decimal

from common import p50, tail

MIX = {  # operator -> module holding it
    "dedup_minhash_fast": "dedup",
    "knn_lsh_bucketed": "similarity",
    "tfidf_top_terms": "scoring",
    "semdedup": "clustering",
    "coverage_select": "corpus",
}
CORPUS_SEED = 42
N_DOCS, N_VECS, DIM, N_LABELS = 500, 500, 64, 10
VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()
LANGS = ("en",) * 3 + ("de", "es", "fr", "zh")
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_digests.json")
WARMUP_PASSES = 2
MIN_PASSES = 2  # a pass outlasts a short run; one pass alone swings 20%
ACCOUNTED = ("jobs", "shuffle_bytes", "spill_bytes", "task_max_s")


def write_corpus(sf_dir: str) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` with the testdata schemas."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(CORPUS_SEED)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))
    gen = np.random.default_rng(CORPUS_SEED)
    centers = gen.normal(size=(N_LABELS, DIM))
    labels = gen.integers(0, N_LABELS, size=N_VECS)
    vecs = centers[labels] + 0.8 * gen.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, dict):
        return [[_canon(k), _canon(x)] for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))]
    if hasattr(v, "asDict"):  # a Spark Row nested in a struct column
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return repr(v)


def digest(columns: list[str], rows) -> str:
    """Order-free digest: columns sorted by name, rows sorted, values canonical."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(json.dumps([_canon(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(sf_dir: str) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in MIX:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()


def prepare(ctx) -> dict:
    sf_dir = os.path.join(ctx.workdir, "sf")
    write_corpus(sf_dir)
    with open(DIGESTS) as f:
        digests = json.load(f)
    order = sorted(MIX)
    random.Random(ctx.seed).shuffle(order)
    return {"sf": sf_dir, "digests": digests, "order": order}


def release_all(spark) -> int:
    """Release what the operator cached, as ``bench.py`` does; returns how many
    RDDs were persisted before the release."""
    from inde1_spark.operators.dedup import release_persisted

    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    release_persisted()
    return n


def one_pass(spark, exp: dict, tracer, queries) -> tuple[float, int, dict]:
    """Every operator once; returns (seconds, failed, per-operator records)."""
    failed = 0
    recs = {}
    total = 0.0
    for name in exp["order"]:
        t0 = time.perf_counter()
        try:
            with tracer.span(f"ops.{name}", module=f"operators.{MIX[name]}") as span:
                df = queries[name](spark, exp["sf"])
                build_s = time.perf_counter() - t0
                rows = df.collect()
            elapsed = time.perf_counter() - t0
            ok = digest(df.columns, rows) == exp["digests"][name]
            if not ok:
                print(f"perfbench: {name} output differs from its DuckDB twin", flush=True)
        except Exception as exc:  # a failed operator is counted, the pass goes on
            print(f"perfbench: {name} failed: {exc!r}", flush=True)
            elapsed, build_s, ok, span = time.perf_counter() - t0, 0.0, False, None
        total += elapsed
        failed += not ok
        rec = dict(span or {}, wall_s=elapsed, build_s=build_s,
                   persisted_after=release_all(spark))
        recs[name] = rec
    return total, failed, recs


def run(ctx, spark, exp: dict) -> dict:
    import __spark_entry__ as entry

    queries = entry.queries()
    tracer = ctx.tracer
    tracer.enabled = False
    attempted = failed = 0
    for _ in range(WARMUP_PASSES):  # untimed and checked; the first runs JIT-cold
        failed += one_pass(spark, exp, tracer, queries)[1]
        attempted += len(MIX)
    ctx.setup_done()
    passes, traced, traced_recs = [], [], []
    t_end = time.perf_counter() + ctx.seconds
    t_half = time.perf_counter() + ctx.seconds / 2
    while (time.perf_counter() < t_end or len(passes) + len(traced) < MIN_PASSES
           or (ctx.trace and not traced)):
        tracer.enabled = ctx.trace and time.perf_counter() >= t_half
        t, f, recs = one_pass(spark, exp, tracer, queries)
        if tracer.enabled:
            traced.append(t)
            traced_recs.append(recs)
        else:
            passes.append(t)
        attempted += len(MIX)
        failed += f
    tracer.enabled = ctx.trace
    measured = passes or traced
    pass_ms = [t * 1000.0 for t in measured]
    e2e = {
        "latency_p50_ms": p50(pass_ms),
        "latency_tail_ms": tail(pass_ms)[0],
        "throughput_per_s": len(MIX) / p50(measured),
    }
    layers = {}
    if ctx.trace:
        for name in MIX:
            rs = [r[name] for r in traced_recs]
            for k in ("wall_s", "build_s", "persisted_after") + ACCOUNTED:
                layers[f"ops.{name}.{k}"] = p50([r.get(k, 0) for r in rs])
        if passes:
            layers["trace.overhead_pct"] = 100.0 * (p50(traced) - p50(passes)) / p50(passes)
    info = {"passes": len(measured), "pass_s": measured, "order": exp["order"], "corpus_ops_s": p50(measured)}
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers,
            "info": info}


if __name__ == "__main__" and "--write-digests" in sys.argv:
    import tempfile

    sys.path.insert(0, os.getcwd())
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        write_corpus(tmp)
        with open(DIGESTS, "w") as f:
            json.dump(oracle_digests(tmp), f, indent=2, sort_keys=True)
            f.write("\n")
    print(f"wrote {DIGESTS}")
