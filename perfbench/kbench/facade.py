"""The reference's own surface as one ``Stream`` chain over seeded
``(id, k)`` rows, run by ``curation`` after its registry entries:

    map(parse, ~1.9% injected ValueError) -> catch(ValueError, replacement=-1)
    -> filter(keep) -> amap(enrich) -> map(spread -> array) -> flatten
    -> distinct -> group(by=bucket)

then ``count()`` and an ordered ``iter()`` of the first ``FIRST_N``
groups.  It exercises the Arrow/``mapInPandas`` path, the
``__err__``/``__seq__`` columns, the order sort and ``toLocalIterator``."""

from __future__ import annotations

import time

from . import etl_fns
from .core import Op, timed_op

ROWS, SMOKE_ROWS = 500, 200
FIRST_N = 20


def build(spark, path: str):
    from pyspark.sql import types as T

    from kioss_spark.stream import Stream

    long_t = T.LongType()
    return (
        Stream.from_df(spark.read.parquet(path), seq="id")
        .map(etl_fns.parse, returnType=long_t)
        .catch(ValueError, replacement=-1)
        .filter(etl_fns.keep)
        .amap(etl_fns.enrich, returnType=long_t, concurrency=8)
        .map(etl_fns.spread, returnType=T.ArrayType(long_t))
        .flatten()
        .distinct()
        .group(by=etl_fns.bucket)
    )


def run_pass(spark, path: str, span) -> list[Op]:
    """Build the chain and run its two actions, one op each."""
    with span("stream.build"):
        s = build(spark, path)
    count, pull = Op("facade_count"), Op("facade_iter")
    with span("stream.count"), timed_op(count):
        count.out = s.count()
    with span("stream.iter"), timed_op(pull):
        it = iter(s)
        try:
            with span("stream.iter_first"):
                got = [next(it)]
            pull.info["first_result_s"] = time.perf_counter() - pull.start
            got += [next(it) for _ in range(FIRST_N - 1)]
        finally:
            it.close()
        pull.out = [list(g) for g in got]
    return [count, pull]


def source_rows(path: str) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["id", "k"])
    return list(zip(t.column("id").to_pylist(), t.column("k").to_pylist()))


def error_rows(spark, path: str) -> int:
    """Rows carrying ``__err__`` right after the raising ``map``: must
    equal the injected count (errors-as-data)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kioss_spark.stream import Stream

    pre = Stream.from_df(spark.read.parquet(path), seq="id").map(etl_fns.parse, returnType=T.LongType())
    return pre.to_df(ordered=False, keep_err=True).where(F.col("__err__").isNotNull()).count()


def check(ops: list[Op], path: str) -> None:
    """Compare each facade op's output with the plain-Python recomputation
    of the same callables, injected-error replacements included."""
    want = etl_fns.reference(source_rows(path))
    for op in ops:
        if op.error is not None:
            continue
        ok = op.out == (len(want) if op.kind == "facade_count" else want[:FIRST_N])
        if not ok:
            op.correct, op.error = False, f"{op.kind}: output differs from the Python recomputation"
        op.out = None
