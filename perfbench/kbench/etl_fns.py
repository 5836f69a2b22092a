"""The user callables of the ``Stream`` facade chain (``facade.py``), plus their plain-Python
reference.  The module is registered for pickling by value, so Spark
workers never need to import the benchmark."""

from __future__ import annotations

#: ``parse`` raises on exactly these rows: a fixed injected-error rate
ERROR_MOD, ERROR_REM = 53, 7
BUCKETS = 64


def parse(element: dict) -> int:
    if element["id"] % ERROR_MOD == ERROR_REM:
        raise ValueError(f"unparseable row {element['id']}")
    return element["k"] * 3 + 1


def keep(v: int) -> bool:
    return v % 4 != 0


def enrich_sync(v: int) -> int:
    return (v * 7) % 5003


async def enrich(v: int) -> int:
    return enrich_sync(v)


def spread(v: int) -> list:
    return [v % 97, v % 89]


def bucket(v: int) -> str:
    return str(v % BUCKETS)


def reference(rows) -> list:
    """The chain ``map(parse).catch(ValueError, replacement=-1)
    .filter(keep).amap(enrich).map(spread).flatten().distinct()
    .group(by=bucket)`` recomputed in plain Python over ``(id, k)`` rows in
    id order.  Returns the groups in stream order: each group is ordered
    by stream position and placed at its first element's position."""
    seen = set()
    groups: dict[str, list] = {}
    for rid, k in sorted(rows):
        try:
            v = parse({"id": rid, "k": k})
        except ValueError:
            v = -1
        if not keep(v):
            continue
        for x in spread(enrich_sync(v)):
            if x in seen:
                continue
            seen.add(x)
            groups.setdefault(bucket(x), []).append(x)
    return list(groups.values())


def injected_errors(rows) -> int:
    return sum(1 for rid, _k in rows if rid % ERROR_MOD == ERROR_REM)
