"""``corpus``: the read-heavy operator tier, as a closed loop with one
caller running passes over two registry rows on a seeded corpus.

A pass runs the search row ``bm25_pruned_idx`` (MaxScore-pruned BM25
over the stored keyword index) and then the curate row
``corpus_curate_modern`` (exact dedup, Gopher rules and repetition
gates, ExactSubstr cut). Each row is timed as its builder call plus
``.collect()``, with the cache cleared before it, as ``bench.py`` times
registry rows. Builders and oracle SQL come from the ``OPS`` dict. The
keyword index the search row probes is built in set-up, under the run's
own ``TMPDIR``, so no run reuses another's. The loop bypasses sinks and
streaming.
"""

from __future__ import annotations

import random
import time

import check
import common
import gen
from spans import CORPUS_ROWS, cached_blocks, eventlog_bytes

DOCS = 500
WARM = 2  # passes in set-up; the second is still slower than later ones
MIN_OPS = 2  # passes measured at least; per-layer counts cover these


def _row(spark, sf: str, name: str, tracer, op: str):
    """Run one registry row; returns (build_s, exec_s, rows, cached
    blocks left after its terminal action or None when untraced)."""
    from swarm_spark.ops_queries import OPS

    spark.catalog.clearCache()
    if tracer is not None:
        tracer.begin_op(op)
    t0 = time.perf_counter()
    df = OPS[name][0](spark, sf)
    t1 = time.perf_counter()
    rows = df.collect()
    t2 = time.perf_counter()
    cached = None
    if tracer is not None:
        tracer.end_op()
        cached = cached_blocks(spark)
    return t1 - t0, t2 - t1, check.multiset(df.columns, [tuple(r) for r in rows]), cached


def run(seed: int, seconds: float, scratch: common.Scratch, tracer) -> tuple[dict, dict]:
    from swarm_spark.ops_queries import OPS, _bm25_kw_index

    sf = gen.corpus(random.Random(seed), scratch.sub("sf"), DOCS)
    want = {name: check.oracle_multiset(sf, OPS[name][1]) for name in CORPUS_ROWS}

    # set-up: session, the stored keyword index, warm-up passes
    t0 = time.perf_counter()
    spark = common.start_session(scratch, eventlog=tracer is not None)
    _bm25_kw_index(spark, sf)
    for _ in range(WARM):
        for name in CORPUS_ROWS:
            _row(spark, sf, name, None, "")
    setup_s = time.perf_counter() - t0

    if tracer is not None:
        tracer.sc = spark.sparkContext
    passes: list[dict[str, tuple[float, float]]] = []
    cached: dict[str, int] = {}
    errors = []
    while len(passes) < MIN_OPS or sum(sum(b + e for b, e in p.values()) for p in passes) < seconds:
        k = len(passes)
        times = {}
        for name in CORPUS_ROWS:
            b, e, got, left = _row(spark, sf, name, tracer, f"{name}-{k}")
            times[name] = (b, e)
            if got != want[name]:
                errors.append(f"pass {k}: {name}: {len(got)} rows differ from the oracle's {len(want[name])}")
            if left is not None:
                cached[f"{name}-{k}"] = left
        passes.append(times)
    rss = common.peak_rss_mb(spark)

    layers = None
    if tracer is not None:
        ops = [f"{name}-{k}" for name in CORPUS_ROWS for k in range(MIN_OPS)]
        counts = tracer.spark_counts(ops)
    spark.catalog.clearCache()
    spark.stop()
    if tracer is not None:
        moved = eventlog_bytes(scratch.eventlog)
        layers = {}
        for name in CORPUS_ROWS:
            ks = range(MIN_OPS)
            per = {
                "build_s": sum(passes[k][name][0] for k in ks),
                "exec_s": sum(passes[k][name][1] for k in ks),
                "jobs": sum(counts[f"{name}-{k}"]["jobs"] for k in ks),
                "stages": sum(counts[f"{name}-{k}"]["stages"] for k in ks),
                "shuffle_bytes": sum(moved[f"{name}-{k}"]["shuffle_bytes"] for k in ks),
                "spill_bytes": sum(moved[f"{name}-{k}"]["spill_bytes"] for k in ks),
                "cached_after": sum(cached[f"{name}-{k}"] for k in ks),
            }
            layers.update({f"{name}.{m}": v / MIN_OPS for m, v in per.items()})

    failed = len({e.split(":")[0] for e in errors})
    walls = [sum(b + e for b, e in p.values()) for p in passes]
    search, curate = CORPUS_ROWS
    p50 = common.median(walls)
    docs_per_s = DOCS * len(CORPUS_ROWS) * len(passes) / sum(walls)
    report = {
        "workload": "corpus",
        "loop": "closed, 1 outstanding",
        "docs": DOCS,
        "passes": len(passes),
        "rows": {name: [p[name] for p in passes] for name in CORPUS_ROWS},
        "pass_s": walls,
        "pass_p50_s": p50,
        "search_s": common.median([sum(p[search]) for p in passes]),
        "curate_s": common.median([sum(p[curate]) for p in passes]),
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "failed_ratio": failed / len(passes),
        "errors": errors,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {
            "setup_s": common.metric(setup_s, "s"),
            "peak_rss_mb": common.metric(sum(rss.values()), "MB"),
            "op_p50_s": common.metric(p50, "s"),
            "records_per_s": common.metric(docs_per_s, "records/s"),
        },
    }
    if layers is not None:
        report["layers"] = layers
    return result, report
