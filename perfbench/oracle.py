"""Correctness check: the engine's Clips against DuckDB over the same slices.

Each Clip covers the slices its query consumed since its previous Clip (or
since submission). For the families with an exact answer, the Clip's
records must equal DuckDB's answer over those slices:

* GROUP ALL / GROUP BY: count, sum and max per group. When the group cap
  is below the number of groups, the engine keeps the groups it saw first,
  so the check asks for exactly ``cap`` groups, each of them exact.
* TOP K: the same keys, counts and order (ties broken by key).
* COUNT DISTINCT: the exact distinct count.
* RAW: no duplicate rows, every row passes the filter, and the row count is
  the smaller of the limit and the matching rows.

A query fails when it receives an error Clip or any of its Clips differs.
"""

from __future__ import annotations

import math

import duckdb

from perfbench.workloads import Spec


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _same_row(got: dict, want: dict) -> bool:
    return set(got) == set(want) and all(_close(got[k], want[k]) for k in want)


def _source(paths: list[str]) -> str:
    files = ", ".join(f"'{p}'" for p in paths)
    return f"read_parquet([{files}])"


def _fetch(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, row)) for row in cur.fetchall()]


def check_clip(con, spec: Spec, records: list[dict], src: str) -> bool:
    want = _fetch(con, spec.oracle.format(src=src))
    if spec.family == "raw":
        ids = [r.get("event_id") for r in records]
        allowed = {r["event_id"] for r in want}
        return (
            len(ids) == len(set(ids))
            and set(ids) <= allowed
            and len(ids) == min(spec.limit, len(allowed))
        )
    if spec.family == "top_k":
        return [(r["event_type"], r["cnt"]) for r in records] == [
            (r["event_type"], r["cnt"]) for r in want
        ]
    if spec.family == "group_by":
        by_key = {tuple(r[k] for k in spec.keys): r for r in want}
        if len(records) != min(spec.limit, len(by_key)):
            return False
        for r in records:
            w = by_key.get(tuple(r.get(k) for k in spec.keys))
            if w is None or not _same_row(r, w):
                return False
        return True
    # group_all, count_distinct: one row
    return len(records) == 1 and len(want) == 1 and _same_row(records[0], want[0])


def check(specs: dict[str, Spec], clips, slice_paths: list[str]) -> tuple[int, int]:
    """``clips``: (query id, first slice, last slice, Clip) per Clip, in
    emission order. Returns (queries failed, queries checked)."""
    empty = f"(SELECT * FROM {_source(slice_paths[:1])} LIMIT 0)"
    failed: set[str] = set()
    checked: set[str] = set()
    con = duckdb.connect()
    try:
        for qid, first, last, clip in clips:
            if clip.meta.get("errors"):
                failed.add(qid)
                continue
            spec = specs[qid]
            if spec.oracle is None or qid in failed:
                continue
            checked.add(qid)
            paths = slice_paths[first : last + 1]
            src = _source(paths) if paths else empty
            if not check_clip(con, spec, clip.records, src):
                failed.add(qid)
    finally:
        con.close()
    return len(failed), len(checked)
