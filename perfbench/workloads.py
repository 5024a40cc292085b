"""The workloads: what each runs, and how its outputs are checked.

Every operation goes through the library's public functions with one
client in one process. A catalog operation is one catalog query: the
builder call plus a forced ``noop`` write, as the project's ``bench.py``
does. A stream operation is one micro-batch trigger.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import random
import time

#: relational queries whose builders launch no Spark job besides
#: ``load_table``'s schema inference, so metadata resolution and plan
#: construction are a large share of their time: TPC-H SQL over six
#: tables, an as-of join (joins operators), session windows
#: (aggregations operators)
LIGHT = ["q5_region_revenue", "j1_asof_join", "a6_sessions_30m"]
#: curation consumers, which launch eager build-phase jobs (cache
#: fills, broadcast probes) before their final action: near-dup pairs
#: (``spread``, ``scoped_cache``, the dedup operators), IVF top-k (the
#: similarity operators) and count-min heavy hitters (the membership
#: operators). The heaviest curation queries (20+ build jobs, 5-14 s each
#: on a cold 4-core session) do not fit the run budget.
CURATION = ["dedup_ngram_jaccard", "sim_topk_ivf", "token_cms_heavy_hitters"]
WORKLOADS = {"catalog": LIGHT + CURATION, "stream_dedup": None}

#: stream shape: one backlog file per trigger
STREAM_FILES = 2
STREAM_DOCS_PER_FILE = 100
NEARDUP_K, NEARDUP_THRESHOLD = 3, 0.5
STATE_BUCKETS = 1


class Result:
    """Per-run accumulator: operation latencies, failures by name."""

    def __init__(self):
        self.latencies: list[float] = []
        self.names: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.pass_seconds: list[float] = []
        self.rows = 0
        self.ops_of: dict[str, int] = {}

    def fail(self, name: str, why: str, ops: int = 1) -> None:
        self.failed = min(self.attempted, self.failed + ops)
        self.errors[name] = why[:300]


# -- catalog -----------------------------------------------------------------

def catalog_pass(spark, tables_dir, names, seed, res, tracer=None,
                 phases=None, keep=None) -> None:
    """One pass over ``names`` in a seed-drawn order. ``keep`` collects
    each query's result (outside the timer) for the oracle check."""
    from slipstream_async_spark.plans.catalog import queries

    fns = queries()
    order = list(names)
    random.Random(seed).shuffle(order)
    sc = spark.sparkContext
    pass_s = 0.0
    for name in order:
        res.attempted += 1
        res.ops_of[name] = res.ops_of.get(name, 0) + 1
        try:
            sc.setJobGroup(f"perfbench:{name}:build", name)
            b0, t0 = time.time(), time.perf_counter()
            span = tracer.begin("plans.build", query=name) if tracer else None
            try:
                df = fns[name](spark, tables_dir)
            finally:
                if tracer:
                    tracer.end(span)
            b1 = time.time()
            sc.setJobGroup(f"perfbench:{name}:action", name)
            df.write.format("noop").mode("overwrite").save()
            res.latencies.append(time.perf_counter() - t0)
            res.names.append(name)
            pass_s += res.latencies[-1]
            if tracer:
                phases["build"].append((b0, b1))
                phases["action"].append((b1, time.time()))
                phases["pinned"] += sc._jsc.sc().getPersistentRDDs().size()
            if keep is not None and name not in keep:
                keep[name] = df.toPandas()
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            res.fail(name, f"{type(exc).__name__}: {exc}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.catalog.clearCache()
            gc.collect()
    res.pass_seconds.append(pass_s)


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answer(con, sql: str, cache_dir: str, key: str):
    """DuckDB's answer to ``sql``. The tables never change for a given
    generator and scale, so answers are kept in ``cache_dir`` under a
    hash of the SQL, the generator source and ``key``: the quadratic
    dedup oracles cost tens of seconds and would otherwise dominate
    every run."""
    import hashlib

    import pandas as pd

    import datagen

    with open(datagen.__file__, "rb") as fh:
        h = hashlib.sha256(fh.read() + sql.encode() + key.encode()).hexdigest()
    path = os.path.join(cache_dir, f"oracle-{h[:32]}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def check_catalog(root, tables_dir, results, res, cache_dir, key) -> None:
    """Each query's collected result against its DuckDB oracle, with the
    normalization of ``tools/check_oracle.py``. A wrong query marks every
    one of its operations failed."""
    import duckdb

    from slipstream_async_spark.plans.catalog import oracle_sql

    from datagen import TABLES

    chk = _check_oracle_module(root)
    oracles = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    for name, got in results.items():
        ops = res.ops_of.get(name, 1)
        try:
            want = oracle_answer(con, oracles[name], cache_dir, key)
        except Exception as exc:  # noqa: BLE001
            res.fail(name, f"oracle error: {exc}", ops)
            continue
        s, d = chk._normalize(got), chk._normalize(want)
        if list(s.columns) != list(d.columns):
            res.fail(name, f"columns {list(s.columns)} != {list(d.columns)}", ops)
        elif chk._kinds(got) != chk._kinds(want):
            res.fail(name, "dtype kinds differ", ops)
        elif len(s) != len(d):
            res.fail(name, f"rows {len(s)} != {len(d)}", ops)
        elif len(s) and not s.equals(d):
            res.fail(name, f"{int((s != d).any(axis=1).sum())} rows differ", ops)
    con.close()


# -- stream ------------------------------------------------------------------

def stage_stream(tables_dir: str, out_dir: str, seed: int) -> list[tuple[str, str]]:
    """Write the seed's backlog, one parquet file per trigger; returns
    every streamed ``(doc_id, text)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datagen import doc_stream

    base = pq.read_table(f"{tables_dir}/documents.parquet", columns=["text"])
    files = doc_stream(base.column("text").to_pylist(), seed,
                       STREAM_FILES, STREAM_DOCS_PER_FILE)
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(files):
        ids, texts = zip(*rows)
        pq.write_table(pa.table({"doc_id": list(ids), "text": list(texts)}),
                       os.path.join(out_dir, f"part-{i:04d}.parquet"))
    return [r for rows in files for r in rows]


def stream_drain(spark, src: str, state_dir: str, res, phases) -> dict:
    """Drain the staged backlog through the near-dup sink, one file per
    trigger; returns the state tables for the output check."""
    from slipstream_async_spark.streaming import dedup_flow
    from slipstream_async_spark.streaming.neardup_index import NearDupPrefixIndex
    from slipstream_async_spark.streaming.state import StateTable

    corpus = StateTable(spark, f"{state_dir}/corpus", n_buckets=STATE_BUCKETS)
    pairs = StateTable(spark, f"{state_dir}/pairs", n_buckets=STATE_BUCKETS)
    index = NearDupPrefixIndex(spark, f"{state_dir}/index", k=NEARDUP_K,
                               threshold=NEARDUP_THRESHOLD,
                               n_buckets=STATE_BUCKETS)
    # doc ids are unique over the stream, so the cross-epoch redelivery
    # guard is off, as the sink's docstring advises for such streams
    sink = dedup_flow.indexed_incremental_dedup_sink(
        corpus, pairs, index, stats=phases.setdefault("stats", []),
        redelivery_check=False,
    )
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    spark.sparkContext.setJobGroup("perfbench:stream:trigger", "trigger")
    t0, w0 = time.perf_counter(), time.time()
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", f"{state_dir}/checkpoint").start())
    res.attempted += STREAM_FILES
    try:
        q.processAllAvailable()
    except Exception as exc:  # noqa: BLE001 — counted below
        res.fail("stream_dedup", f"{type(exc).__name__}: {exc}", STREAM_FILES)
    finally:
        drain = time.perf_counter() - t0
        q.stop()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    for p in progress:
        res.latencies.append(p["durationMs"]["triggerExecution"] / 1000.0)
        res.names.append(f"trigger{p['batchId']}")
        res.rows += p["numInputRows"]
    res.pass_seconds.append(drain)
    phases["trigger"].append((w0, time.time()))
    phases["progress"] = progress
    return {"corpus": corpus, "pairs": pairs, "index": index}


def check_stream(spark, docs, tables, res) -> None:
    """The sink's pair set against the batch operator over every streamed
    document at the index's k and threshold."""
    from slipstream_async_spark.operators.dedup import dedup_ngram_jaccard

    df = spark.createDataFrame(docs, "doc_id string, text string")
    want = {
        frozenset((r["id_a"], r["id_b"]))
        for r in dedup_ngram_jaccard(df, "text", "doc_id", k=NEARDUP_K,
                                     threshold=NEARDUP_THRESHOLD).collect()
    }
    got = set()
    for r in tables["pairs"].snapshot().collect():
        n, rest = r["key"].split("|", 1)
        got.add(frozenset((rest[: int(n)], rest[int(n) + 1:])))
    if got != want:
        res.fail("neardup_pairs",
                 f"{len(want - got)} missing, {len(got - want)} extra of "
                 f"{len(want)}", res.attempted)
    elif not want:
        res.fail("neardup_pairs", "backlog produced no near-dup pairs",
                 res.attempted)
