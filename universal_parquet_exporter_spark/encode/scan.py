"""Read planning and the chunk decode kernel, shared by every read path.

:func:`..pipeline.decode_dataset` and the ``upe_encoded`` reader (batch
and stream) plan through :func:`plan_scan` and decode through
:func:`_read_chunk_partition`.  Planning reads only metadata — manifest
and lineage parquet, ``plan.json`` and chunk headers — with pyarrow, so
it runs without a SparkSession (Spark's Python planning worker has
none) and schedules no Spark job.

A read is pruned in two layers, unit then chunk, each a conservative
superset of the matching rows:

1. terms on the plan's key column bound the key range of each AND-group
   (:func:`..pipeline.key_range_from_terms`, plus point ranges for a
   string IN-list), and only the encode units those ranges can touch are
   kept — the union over the groups of a disjunction;
2. each remaining chunk is kept when its recorded zone map
   (:func:`..pipeline._chunk_stats`) keeps it for ANY AND-group; the rule
   for every filter op lives in :func:`_chunk_keep`.

The caller applies the exact predicate to the decoded rows.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime
from decimal import Decimal
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import InputPartition

from ..plans.partitioning import EncodePlan, units_for_key_range
from .container import deserialize_chunk
from .pipeline import (
    _load_plan,
    _normalize_batch,
    _open_payload,
    _pad_table,
    _read_meta_table,
    _union_probe_schema,
    date_value_days,
    key_range_from_terms,
    manifest_dir,
    ts_value_us,
)

# ---------------------------------------------------------------------------
# committed manifest and union schema
# ---------------------------------------------------------------------------


def _meta_state_token(output_dir: str) -> tuple | None:
    """Cheap freshness token for the planning-side manifest cache: the
    (mtime_ns, size-ish) of the manifest dir, lineage dir, and version
    pointer.  Any committed write touches at least one of them (new
    parquet file → directory mtime on POSIX; pointer swap → file mtime).
    Remote (non-POSIX) paths return None — never cached."""
    if "://" in output_dir:
        return None
    parts = []
    for p in (
        manifest_dir(output_dir),
        os.path.join(output_dir, "lineage"),
        os.path.join(output_dir, "manifest_current"),
    ):
        try:
            st = os.stat(p)
            parts.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            parts.append((p, None, None))
    return tuple(parts)


_MANIFEST_CACHE: dict[str, tuple[tuple, pa.Table]] = {}


def _committed_manifest(output_dir: str) -> pa.Table:
    """Committed manifest rows: the lineage ``status='ok'`` semi-join on
    ``(unit, run_id)``, so orphans from a run that crashed between its
    data and lineage commits are invisible.  At nominal scale this is
    manifest METADATA (fragment rows, not data), but it is ~10^7 rows at
    100 TB, so the join runs entirely in Arrow (hash semi-join in C++,
    zero per-row Python objects) and the result is cached per (path,
    dir-mtime token): schema resolution, planning and the append-schema
    guard share one load instead of re-reading per call."""
    token = _meta_state_token(output_dir)
    if token is not None:
        hit = _MANIFEST_CACHE.get(output_dir)
        if hit is not None and hit[0] == token:
            return hit[1]
    man = _read_meta_table(
        manifest_dir(output_dir),
        ["unit", "run_id", "file", "offset", "length", "row_off", "n_rows", "stats", "codecs"],
    )
    lin = _read_meta_table(os.path.join(output_dir, "lineage"), ["unit", "run_id", "status"])
    if man is None or lin is None or man.num_rows == 0:
        out = pa.table(
            {
                "unit": pa.array([], pa.int64()),
                "run_id": pa.array([], pa.string()),
                "file": pa.array([], pa.string()),
                "offset": pa.array([], pa.int64()),
                "length": pa.array([], pa.int64()),
                "row_off": pa.array([], pa.int64()),
                "n_rows": pa.array([], pa.int64()),
                "stats": pa.array([], pa.string()),
            }
        )
    else:
        ok = (
            lin.filter(pc.equal(lin.column("status"), "ok"))
            .select(["unit", "run_id"])
            .group_by(["unit", "run_id"])
            .aggregate([])  # distinct — join keys must be unique
        )
        out = man.join(ok, keys=["unit", "run_id"], join_type="left semi")
    if token is not None:
        # re-validate: a write racing this load invalidates via mtime
        if _meta_state_token(output_dir) == token:
            _MANIFEST_CACHE[output_dir] = (token, out)
            if len(_MANIFEST_CACHE) > 64:
                _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    return out


def _probe_chunk_schema(output_dir: str, man: pa.Table) -> pa.Schema:
    """Union-by-name schema over committed chunks (orphan-safe — rows
    came through the lineage semi-join): one meta-only probe per
    distinct column-name set (column sets come from the manifest's own
    codecs maps; distinct codecs STRINGS are deduped before any JSON
    parse, so planning cost tracks codec diversity, not row count)."""
    if man.num_rows == 0:
        raise ValueError(f"empty encoded dataset at {output_dir}")
    payload_dir = os.path.join(output_dir, "payload")
    files = man.column("file").to_pylist()
    offsets = man.column("offset").to_pylist()
    codecs = man.column("codecs").to_pylist() if "codecs" in man.schema.names else [None] * man.num_rows
    by_ns: dict[tuple, tuple[str, int]] = {}
    seen_cj: set = set()
    for i, cj in enumerate(codecs):
        if cj in seen_cj:
            continue
        seen_cj.add(cj)
        ns = tuple(sorted(json.loads(cj).keys())) if cj else ("",)
        by_ns.setdefault(ns, (files[i], offsets[i]))
    return _union_probe_schema(payload_dir, sorted(by_ns.values()))


# ---------------------------------------------------------------------------
# the chunk-pruning rule
# ---------------------------------------------------------------------------


def _zone_value(t: pa.DataType, v):
    """``v`` in the zone-map domain of a column of type ``t``: epoch-µs
    for timestamps, epoch-days for dates, ``Decimal`` for decimals.
    Raises TypeError when ``v`` is not a value of that type (a string
    bound on a timestamp, a float on a decimal, a NaN): comparing across
    domains would not follow Spark's coercion, so such a term must not
    prune.  Types without bounds or value sets pass through — only the
    all-null rule reads them."""
    if isinstance(v, bool):
        ok = pa.types.is_boolean(t)
    elif pa.types.is_timestamp(t):
        if isinstance(v, datetime):
            return ts_value_us(v)
        ok = False
    elif pa.types.is_date(t):
        if isinstance(v, date) and not isinstance(v, datetime):
            return date_value_days(v)
        ok = False
    elif pa.types.is_decimal(t):
        if isinstance(v, int) or (isinstance(v, Decimal) and v.is_finite()):
            return Decimal(v)
        ok = False
    elif pa.types.is_integer(t) or pa.types.is_floating(t):
        ok = isinstance(v, int) or (isinstance(v, float) and v == v)
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        ok = isinstance(v, str)
    else:
        ok = True
    if not ok:
        raise TypeError(f"{v!r} is not a {t} value")
    return v


def _normalize_terms(terms, schema: pa.Schema) -> list[tuple[str, str, object]]:
    """Convert term values to the zone-map domain ONCE per scan (not per
    chunk) — see :func:`_zone_value`.  A term whose column is absent
    from the schema or whose value (any IN-list member) is outside the
    column's domain is dropped from PRUNING; the exact residual still
    applies it."""
    out = []
    for col, op, v in terms:
        if col not in schema.names:
            continue
        if op in ("is_null", "not_null"):
            out.append((col, op, None))
            continue
        t = schema.field(col).type
        try:
            v = tuple(_zone_value(t, x) for x in v) if op in ("in", "not_in") else _zone_value(t, v)
        except TypeError:
            continue
        out.append((col, op, v))
    return out


def _chunk_keep(stats_json: str | None, terms, schema: pa.Schema | None) -> bool:
    """Zone-map verdict for ONE chunk under one AND-group of normalized
    terms (:func:`_normalize_terms`): False only when the chunk's
    recorded statistics PROVE a term can't match; missing or partial
    statistics keep.  Decimal bounds are stored as exact strings and
    re-typed here."""
    if not stats_json:
        return True
    try:
        stats = json.loads(stats_json)
    except (TypeError, ValueError):
        return True
    dv_map = stats.get("_dv")
    if not isinstance(dv_map, dict):
        dv_map = {}
    nc_map = stats.get("_nc")
    n_total = stats.get("_n")
    have_nc = isinstance(nc_map, dict) and isinstance(n_total, int)
    for col, op, v in terms:
        # null-count pruning (the parquet null-count analog): a column
        # absent from a recorded _nc map is all-null in this chunk —
        # including chunks whose generation PREDATES the column under
        # additive evolution; every value term is null-rejecting, so
        # all-null prunes those too
        if have_nc:
            nc = nc_map.get(col)
            all_null = not isinstance(nc, int) or nc >= n_total
            if op == "is_null":
                if isinstance(nc, int) and nc == 0:
                    return False
                continue
            if op == "not_null":
                if all_null:
                    return False
                continue
            if all_null:
                return False
        elif op in ("is_null", "not_null"):
            continue
        is_dec = schema is not None and col in schema.names and pa.types.is_decimal(
            schema.field(col).type
        )
        # exact distinct-value sets (≤ _STATS_DV_MAX values recorded):
        # equality/IN/prefix prune on MEMBERSHIP — the interleaved-
        # categorical case min/max bounds can never exclude
        dv = dv_map.get(col)
        if dv is not None and is_dec:
            try:
                dv = [Decimal(str(x)) for x in dv]
            except ArithmeticError:
                dv = None
        if dv is not None and op in ("!=", "not_in"):
            # inequality prunes ONLY through the exact value set: the
            # chunk matches nothing when every recorded non-null value
            # is rejected (all-null rejection already returned above)
            rejected = v if op == "not_in" else (v,)
            try:
                if all(x in rejected for x in dv):
                    return False
            except TypeError:
                pass  # cross-type membership: never prune on it
            continue
        if dv is not None and op in ("=", "in", "startswith", "endswith", "contains"):
            strs = all(isinstance(x, str) for x in dv)
            try:
                if op == "=" and v not in dv:
                    return False
                elif op == "in" and not any(x in dv for x in v):
                    return False
                elif op == "startswith" and strs and not any(x.startswith(v) for x in dv):
                    return False
                elif op == "endswith" and strs and not any(x.endswith(v) for x in dv):
                    return False
                elif op == "contains" and strs and not any(v in x for x in dv):
                    return False
            except TypeError:
                pass  # cross-type membership: never prune on it
        bounds = stats.get(col)
        if not isinstance(bounds, (list, tuple)) or len(bounds) != 2:
            continue
        mn, mx = bounds
        if is_dec:
            try:
                mn = None if mn is None else Decimal(str(mn))
                mx = None if mx is None else Decimal(str(mx))
            except ArithmeticError:
                continue
        try:
            if op in (">", ">="):
                if mx is not None and not (mx > v if op == ">" else mx >= v):
                    return False
            elif op in ("<", "<="):
                if mn is not None and not (mn < v if op == "<" else mn <= v):
                    return False
            elif op == "=":
                if (mn is not None and mn > v) or (mx is not None and mx < v):
                    return False
            elif op == "in":
                if mn is not None and mx is not None and not any(
                    mn <= x <= mx for x in v
                ):
                    return False
            elif op == "startswith":
                # all matches are >= v and share v's length-prefix
                if mx is not None and mx < v:
                    return False
                if mn is not None and isinstance(mn, str) and mn[: len(v)] > v:
                    return False
        except TypeError:
            continue  # cross-type comparison: never prune on it
    return True


# ---------------------------------------------------------------------------
# the planner
# ---------------------------------------------------------------------------


class ScanPlan(NamedTuple):
    """What :func:`plan_scan` returns.  ``rows`` are the kept manifest
    rows sorted by (file, offset, row_off); ``schema`` is the dataset's
    union schema; ``funnel`` holds ``units_total``/``units_qualifying``
    (when every AND-group bounds the key column) and ``total``/
    ``qualifying`` — manifest rows before/after chunk pruning (when
    filter groups are given); ``plan`` is the dataset plan, loaded only
    when groups or a key range are given."""

    rows: pa.Table
    schema: pa.Schema
    funnel: dict
    plan: EncodePlan | None


def _group_units(plan: EncodePlan, terms) -> set[int] | None:
    """Units one AND-group's key-column terms can touch; None when its
    key range is open on both sides (every unit)."""
    lo, hi = key_range_from_terms(terms, plan.key_col)
    units = None if lo is None and hi is None else set(units_for_key_range(plan, lo, hi))
    for col, op, v in terms:
        # a string IN-list on the key: the union of its point ranges,
        # so a point-lookup list keeps only the units its keys live in
        if col == plan.key_col and op == "in" and isinstance(v, (tuple, list)) and all(
            isinstance(x, str) for x in v
        ):
            pts: set[int] = set()
            for x in v:
                pts.update(units_for_key_range(plan, x, x))
            units = pts if units is None else units & pts
    return units


def _chunk_spans(man: pa.Table) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """Manifest rows sorted by (file, offset, row_off) and the
    ``[start, end)`` row span of each chunk — VECTORIZED: the sort runs
    in Arrow C++ and chunk boundaries come from one numpy change-point
    scan, so planning never builds O(rows) Python objects."""
    man = man.sort_by(
        [("file", "ascending"), ("offset", "ascending"), ("row_off", "ascending")]
    )
    if not man.num_rows:
        empty = np.array([], dtype=np.int64)
        return man, empty, empty
    offsets = man.column("offset").to_numpy(zero_copy_only=False)
    fcodes = man.column("file").combine_chunks().dictionary_encode().indices.to_numpy(
        zero_copy_only=False
    )
    change = np.flatnonzero((fcodes[1:] != fcodes[:-1]) | (offsets[1:] != offsets[:-1]))
    starts = np.concatenate(([0], change + 1))
    ends = np.concatenate((change + 1, [man.num_rows]))
    return man, starts, ends


def plan_scan(output_dir: str, groups=(), key_range=None) -> ScanPlan:
    """Plan a read of the committed dataset at ``output_dir``.

    ``groups`` is an OR of AND-groups of ``(col, op, value)`` terms with
    canonical ops (``=``, ``!=``, …); ``key_range=(lo, hi)`` (inclusive,
    None = open) additionally keeps only the units that range can touch.
    Raises ValueError for an empty dataset, or for a key range on a
    dataset without ``plan.json``."""
    man = _committed_manifest(output_dir)
    schema = _probe_chunk_schema(output_dir, man)
    funnel: dict = {}
    plan = _load_plan(output_dir) if groups or key_range is not None else None
    allowed = None
    if key_range is not None:
        if plan is None:
            raise ValueError(f"no plan.json under {output_dir} for key-range pruning")
        allowed = set(units_for_key_range(plan, key_range[0], key_range[1]))
    if groups and plan is not None:
        per_group = [_group_units(plan, g) for g in groups]
        if all(u is not None for u in per_group):
            funits = set().union(*per_group)
            funnel["units_total"] = int(sum(plan.salts))
            funnel["units_qualifying"] = len(funits)
            allowed = funits if allowed is None else allowed & funits
    if allowed is not None:
        man = man.filter(pc.is_in(man.column("unit"), pa.array(sorted(allowed), pa.int64())))
    man, starts, ends = _chunk_spans(man)
    if groups:
        funnel["total"] = man.num_rows
        norm = [_normalize_terms(g, schema) for g in groups]
        # a group with no prunable term keeps every chunk, and with it
        # the whole disjunction
        if all(norm) and "stats" in man.schema.names:
            stats = man.column("stats").take(pa.array(starts, pa.int64())).to_pylist()
            keep = np.array(
                [any(_chunk_keep(s, g, schema) for g in norm) for s in stats], dtype=bool
            )
            if not keep.all():
                man = man.filter(pa.array(np.repeat(keep, ends - starts)))
        funnel["qualifying"] = man.num_rows
    return ScanPlan(man, schema, funnel, plan)


# ---------------------------------------------------------------------------
# the decode kernel
# ---------------------------------------------------------------------------


def _chunk_runs(man: pa.Table) -> list[tuple[str, int, int, list]]:
    """Manifest rows grouped by chunk, in (file, offset) order:
    ``[(file, offset, length, [[row_off, n_rows], ...]), ...]``."""
    man, starts, ends = _chunk_spans(man)
    files = man.column("file").take(pa.array(starts, pa.int64())).to_pylist()
    offsets = man.column("offset").to_numpy(zero_copy_only=False)
    lengths = man.column("length").to_numpy(zero_copy_only=False)
    slices = np.stack(
        (
            man.column("row_off").to_numpy(zero_copy_only=False),
            man.column("n_rows").to_numpy(zero_copy_only=False),
        ),
        axis=1,
    )
    return [
        (f, int(offsets[s]), int(lengths[s]), slices[s:e].tolist())
        for f, s, e in zip(files, starts, ends)
    ]


class _ChunkScanPartition(InputPartition):
    """One scan task: a run of chunks.  ``chunks`` is ``[(file, offset,
    length, [(row_off, n_rows), ...]), ...]`` sorted by (file, offset)
    so the read loop deserializes each chunk once.  ``fields`` are the
    output Arrow fields (union schema restricted to the requested
    columns) — chunks predating a column null-pad to it."""

    def __init__(self, payload_dir: str, columns: list[str] | None, chunks: list, fields: list):
        self.payload_dir = payload_dir
        self.columns = columns
        self.chunks = chunks
        self.fields = fields


def _read_chunk_partition(partition: _ChunkScanPartition):
    """Executor-side scan of one chunk run: each chunk deserializes ONCE
    (column pruning happens inside the container — excluded columns'
    buffers are skipped, never decompressed), its unit-slices yield as
    Arrow batches."""
    handles: dict[str, object] = {}
    try:
        for fname, off, length, slices in partition.chunks:
            fh = handles.get(fname)
            if fh is None:
                fh = handles[fname] = _open_payload(partition.payload_dir, fname)
            fh.seek(off)
            tbl = _pad_table(
                deserialize_chunk(fh.read(length), partition.columns, missing_ok=True),
                partition.fields,
            )
            for roff, nr in slices:
                for b in tbl.slice(roff, nr).to_batches():
                    if b.num_rows:
                        yield _normalize_batch(b)
    finally:
        for fh in handles.values():
            fh.close()
