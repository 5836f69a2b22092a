"""Errors-as-data semantics — the reference's contract: per-element errors
flow positionally, iteration continues, catch() restores control flow
(reference: tests/test_stream.py:555-576 continuation, :1445-1466
catch+replacement, README.md:43-57 inverses example)."""

import pytest
from pyspark.sql import types as T

from kioss_spark import Stream


def throw_on_odd(x):
    if x % 2 == 1:
        raise ValueError(f"odd: {x}")
    return x * 10


def inverse(x):
    return round(1 / x, 2)


def test_uncaught_error_raises_at_action(spark):
    s = Stream.range(spark, 10).map(throw_on_odd, returnType=T.LongType())
    with pytest.raises(ValueError):
        s.collect()


def test_catch_drops_errors(spark):
    s = Stream.range(spark, 10).map(throw_on_odd, returnType=T.LongType()).catch(ValueError)
    assert s.collect() == [0, 20, 40, 60, 80]


def test_catch_with_replacement(spark):
    # README inverses example (reference: README.md:43-57)
    s = (
        Stream.range(spark, 10)
        .map(inverse, returnType=T.DoubleType())
        .catch(ZeroDivisionError, replacement=float("inf"))
    )
    out = s.collect()
    assert out[0] == float("inf")
    assert out[1:] == [round(1 / n, 2) for n in range(1, 10)]


def test_catch_kind_mismatch_still_raises(spark):
    s = Stream.range(spark, 10).map(throw_on_odd, returnType=T.LongType()).catch(KeyError)
    with pytest.raises(ValueError):
        s.collect()


def test_catch_when_predicate(spark):
    s = (
        Stream.range(spark, 10)
        .map(throw_on_odd, returnType=T.LongType())
        .catch(ValueError, when=lambda exc: "3" not in str(exc))
    )
    with pytest.raises(ValueError, match="odd: 3"):
        s.collect()


def test_catch_finally_raise(spark):
    s = (
        Stream.range(spark, 10)
        .map(throw_on_odd, returnType=T.LongType())
        .catch(ValueError, finally_raise=True)
    )
    with pytest.raises(ValueError, match="odd: 1"):
        s.collect()


def test_errors_flow_through_filter(spark):
    s = (
        Stream.range(spark, 10)
        .map(throw_on_odd, returnType=T.LongType())
        .filter(lambda x: x >= 40)
        .catch(ValueError)
    )
    assert s.collect() == [40, 60, 80]


def test_errors_not_counted_by_truncate(spark):
    # errors are not counted as yields (reference: tests/test_stream.py:900-911)
    s = (
        Stream.range(spark, 10)
        .map(throw_on_odd, returnType=T.LongType())
        .truncate(count=3)
        .catch(ValueError)
    )
    assert s.collect() == [0, 20, 40]


def test_errors_not_counted_by_skip(spark):
    # errors don't count as skipped (reference: streamable/iterators.py:295-297)
    s = (
        Stream.range(spark, 10)
        .map(throw_on_odd, returnType=T.LongType())
        .skip(count=2)
        .catch(ValueError)
    )
    assert s.collect() == [40, 60, 80]


def test_group_flushes_around_errors(spark):
    s = (
        Stream.range(spark, 8)
        .map(throw_on_odd, returnType=T.LongType())
        .catch(ValueError)
        .group(size=2)
    )
    assert s.collect() == [[0, 20], [40, 60]]


def throw_keyerror_on_odd(x):
    if x % 2 == 1:
        raise KeyError(f"odd: {x}")
    return x * 10


def test_catch_matches_subclasses(spark):
    # isinstance semantics: catch(LookupError) must catch KeyError
    # (reference: streamable/iterators.py:89 uses isinstance)
    s = (
        Stream.range(spark, 6)
        .map(throw_keyerror_on_odd, returnType=T.LongType())
        .catch(LookupError)
    )
    assert s.collect() == [0, 20, 40]


def test_catch_does_not_match_unrelated(spark):
    s = (
        Stream.range(spark, 6)
        .map(throw_keyerror_on_odd, returnType=T.LongType())
        .catch(ValueError)
    )
    with pytest.raises(KeyError):
        s.collect()


def test_validate_jvm_side_errors(spark):
    from pyspark.sql import functions as F

    s = (
        Stream.range(spark, 10)
        .validate(F.col("value") % 2 == 0, ValueError)
        .catch(ValueError, replacement=-1)
    )
    assert s.collect() == [0, -1, 2, -1, 4, -1, 6, -1, 8, -1]


def test_validate_uncaught_raises(spark):
    from pyspark.sql import functions as F

    s = Stream.range(spark, 4).validate(F.col("value") < 2, RuntimeError)
    with pytest.raises(RuntimeError):
        s.count()


def test_error_raises_mid_iteration_positionally(spark):
    # the reference yields elements BEFORE the error, then raises
    # (tests/test_stream.py:555-576)
    s = Stream.range(spark, 5).map(throw_on_odd, returnType=T.LongType())
    seen = []
    with pytest.raises(ValueError):
        for x in s:
            seen.append(x)
    assert seen == [0]


def test_groupby_propagates_errors(spark):
    # groupby must not swallow uncaught upstream errors (ADVICE r1)
    s = (
        Stream.range(spark, 6)
        .map(throw_on_odd, returnType=T.LongType())
        .groupby(lambda v: "even")
    )
    with pytest.raises(ValueError):
        s.count()


def test_groupby_key_error_propagates(spark):
    def bad_key(v):
        raise RuntimeError("key boom")

    s = Stream.range(spark, 3).groupby(bad_key)
    with pytest.raises(RuntimeError):
        s.count()


def test_zip_propagates_errors(spark):
    a = Stream.range(spark, 4).map(throw_on_odd, returnType=T.LongType())
    b = Stream.range(spark, 4)
    with pytest.raises(ValueError):
        a.zip(b).count()


def test_filter_noarg_drops_falsy(spark):
    s = Stream.of(spark, ["a", "", "b", None, "c"]).filter()
    assert s.collect() == ["a", "b", "c"]
    s2 = Stream.of(spark, [0, 1, 2, 0, 3]).filter()
    assert s2.collect() == [1, 2, 3]


def zde_on_odd(x):
    if x % 2 == 1:
        raise ZeroDivisionError(f"odd: {x}")
    return str(x)


def test_distinct_raising_key_keeps_every_error_row(spark):
    # every row whose key callable raised is its own error row — none is
    # deduplicated against another (they all have a null key)
    s = Stream.of(spark, [1, 2, 3, 4, 5, 6]).distinct(key=zde_on_odd)
    assert s.catch(ZeroDivisionError, replacement=-1).collect() == [-1, 2, -1, 4, -1, 6]


def test_group_by_raising_key_keeps_every_error_row(spark):
    s = Stream.of(spark, [1, 2, 3, 4, 5, 6, 2]).group(by=zde_on_odd)
    rows = s.to_df(keep_err=True).collect()
    assert [(r["value"], r["__err__"] and r["__err__"]["kind"]) for r in rows] == [
        (None, "ZeroDivisionError"), ([2, 2], None),
        (None, "ZeroDivisionError"), ([4], None),
        (None, "ZeroDivisionError"), ([6], None),
    ]
    assert s.catch(ZeroDivisionError).collect() == [[2, 2], [4], [6]]
    # size-chunked: each chunk sits at its first element, errors stay singletons
    chunked = Stream.of(spark, [1, 2, 3, 4, 5, 6, 2]).group(by=zde_on_odd, size=1)
    assert chunked.catch(ZeroDivisionError, replacement=[-1]).collect() == [
        [-1], [2], [-1], [4], [-1], [6], [2]
    ]


def test_groupby_raising_key_keeps_every_error_row(spark):
    s = Stream.of(spark, [1, 2, 3, 4, 5, 6, 2]).groupby(zde_on_odd)
    rows = s.to_df(keep_err=True).collect()
    assert [(r["key"], r["value"], r["__err__"] and r["__err__"]["kind"]) for r in rows] == [
        (None, None, "ZeroDivisionError"), ("2", [2, 2], None),
        (None, None, "ZeroDivisionError"), ("4", [4], None),
        (None, None, "ZeroDivisionError"), ("6", [6], None),
    ]
    got = s.catch(ZeroDivisionError).collect()
    assert [(r["key"], r["value"]) for r in got] == [("2", [2, 2]), ("4", [4]), ("6", [6])]


def test_distinct_keeps_upstream_error_rows(spark):
    # upstream error rows all carry a null value: none may dedup another
    s = Stream.range(spark, 6).map(throw_on_odd, returnType=T.LongType())
    for consecutive in (False, True):
        out = s.distinct(consecutive_only=consecutive).catch(ValueError, replacement=-1)
        assert out.collect() == [0, -1, 20, -1, 40, -1]


def throw_on_three(x):
    if x == 3:
        raise ValueError("three")
    return x


def test_consecutive_distinct_errors_do_not_break_runs(spark):
    # an error between two equal elements neither dedups nor resets the
    # run: the element after it still compares with the last ok element
    s = (
        Stream.of(spark, [1, 1, 3, 1, 2, 2])
        .map(throw_on_three, returnType=T.LongType())
        .distinct(consecutive_only=True)
        .catch(ValueError, replacement=-1)
    )
    assert s.collect() == [1, -1, 2]


def test_group_size_passes_error_rows_positionally(spark):
    s = Stream.range(spark, 8).map(throw_on_odd, returnType=T.LongType()).group(size=2)
    rows = s.to_df(keep_err=True).collect()
    assert [r["value"] for r in rows] == [[0, 20], None, None, [40, 60], None, None]
    assert all((r["value"] is None) == (r["__err__"] is not None) for r in rows)
    with pytest.raises(ValueError, match="odd: 1"):
        s.collect()
    s.release()  # neither to_df nor a raising action frees the rank pass


def test_catch_when_replacement_in_place(spark):
    s = (
        Stream.range(spark, 8)
        .map(throw_on_odd, returnType=T.LongType())
        .catch(ValueError, when=lambda exc: "5" not in str(exc), replacement=-1)
    )
    rows = s.to_df(keep_err=True).collect()
    assert [r["value"] for r in rows] == [0, -1, 20, -1, 40, None, 60, -1]
    assert [r["__err__"] is not None for r in rows] == [i == 5 for i in range(8)]
