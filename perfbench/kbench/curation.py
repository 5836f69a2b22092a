"""``curation``: a batch job with two clients.  One runs an ordered list of
``queries.llm`` registry entries over a seeded synthetic corpus; beside it
the other runs the ``Stream`` facade chain of ``facade.py`` over seeded
rows (the job's ingest).  Passes run back to back until the window has
elapsed (always at least one); a pass ends when both clients are done.
Puts the shuffle-, iteration- and driver-training-heavy ``operators``
layer and the facade's Python-callable path on the critical path; never
touches the manifest or streaming."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from . import datagen, env, etl_fns, facade
from .core import Ctx, Op, Result, timed_op
from .oracle import RegistryOracle

#: (registry entry, the ``kioss_spark.operators`` module it exercises)
ENTRIES = (
    ("quality_gopher_rules", "text"),  # quality rules
    ("dedup_minhash_lsh", "dedup"),  # MinHash-LSH pairs
    ("dedup_cluster_keep", "dedup"),  # connected-component survivors
    ("bm25_topk", "retrieval"),  # BM25 top-k
    ("ann_ivf_trained", "similarity"),  # driver-trained IVF ANN
    ("sketch_hll_lang_rollup", "sketch"),  # HLL sketches
)

SIZES = {"docs": 1000, "vecs": 500}
SMOKE_SIZES = {"docs": 300, "vecs": 200}


def run(ctx: Ctx) -> Result:
    from pyspark import cloudpickle

    sizes = SMOKE_SIZES if ctx.smoke else SIZES
    data = datagen.corpus(ctx.seed, **sizes)
    n_rows = facade.SMOKE_ROWS if ctx.smoke else facade.ROWS
    rows_path = datagen.etl_rows(ctx.seed, n_rows)
    cloudpickle.register_pickle_by_value(etl_fns)
    ctx.session.setup()
    spark, span = ctx.session.spark, ctx.tracer.span
    from kioss_spark.queries import load_all

    reg = load_all()
    ops: list[Op] = []
    passes: list[float] = []
    t0, cpu0 = time.perf_counter(), env.tree_cpu_s()
    pool = ThreadPoolExecutor(1, thread_name_prefix="facade")
    while not passes or time.perf_counter() - t0 < ctx.seconds:
        tp = time.perf_counter()
        ingest = pool.submit(facade.run_pass, spark, rows_path, span)
        for name, module in ENTRIES:
            op = Op(name, info={"module": module})
            with span(f"operators.{module}", entry=name), timed_op(op):
                with span("queries.build", entry=name):
                    df = reg[name].fn(spark, data)
                with span("queries.exec", entry=name):
                    op.out = (df.columns, [tuple(r) for r in df.collect()])
            ops.append(op)
        ops += ingest.result()
        passes.append(time.perf_counter() - tp)
    pool.shutdown()
    window = time.perf_counter() - t0
    cpu_s = env.tree_cpu_s() - cpu0
    extra, err_rows = [], 0
    if ctx.tracer.enabled:
        with span("stream.error_count"):
            err_rows = facade.error_rows(spark, rows_path)
        injected = etl_fns.injected_errors(facade.source_rows(rows_path))
        chk = Op("facade_error_rows")
        if err_rows != injected:
            chk.correct, chk.error = False, f"error rows {err_rows} vs injected {injected}"
        extra.append(chk)
    entry_ops = [op for op in ops if op.kind in dict(ENTRIES)]

    def check() -> None:
        facade.check([op for op in ops if op.kind not in dict(ENTRIES)], rows_path)
        oracle = RegistryOracle(data)
        try:
            for op in entry_ops:
                if op.error is None:
                    reason = oracle.check(op.kind, *op.out)
                    if reason is not None:
                        op.correct, op.error = False, reason
                op.info["rows_out"] = len(op.out[1]) if op.out else 0
                op.out = None
        finally:
            oracle.close()

    docs = sizes["docs"]
    firsts = [op.info["first_result_s"] for op in ops if "first_result_s" in op.info]
    return Result(
        ops=ops,
        extra_ops=extra,
        window_s=window,
        t0=t0,
        detail={
            "pipeline_s": (passes[0], "s"),
            "passes": (len(passes), "count"),
            "rows_per_s": (docs * len(passes) / sum(passes), "rows/s"),
            **({"first_result_s": (firsts[0], "s")} if firsts else {}),
            "facade_rows": (n_rows, "count"),
            "corpus_docs": (docs, "count"),
            "vocabulary": (len(datagen.vocabulary(docs)), "count"),
        },
        layer={"passes": len(passes), "rows": n_rows, "error_rows": err_rows},
        cpu_s=cpu_s,
        check=check,
    )
